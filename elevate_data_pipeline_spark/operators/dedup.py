"""Deduplication operators for large-scale document pipelines.

Five strategies, all shuffle-conscious and expressed with built-in
DataFrame ops (no Python UDFs):

- **exact**: md5 grouping — one shuffle on the content hash.
- **n-gram Jaccard**: character-3-gram set similarity over blocked
  candidate pairs (block key limits the self-join quadratic blowup).
- **MinHash + LSH**: word-shingle minhash signatures banded into LSH
  buckets; candidates = same-band pairs, scored by signature agreement.
  At 100 TB this is THE scalable near-dup path: the only shuffle is on
  band keys, and bucket sizes bound the pair explosion.
- **SimHash**: 32-bit majority-vote fingerprint over token hashes;
  near-dups = pairs at small Hamming distance (bit_count(xor)).
- **embedding cosine**: near-dup pairs above a cosine threshold over an
  embedding column, blocked by a coarse key (label / LSH bucket).

All hash math is deterministic integer arithmetic (polyhash base 31 mod
1e9+7, affine minhash permutations mod the Mersenne prime 2^61-1) so the
DuckDB oracles in queries.py reproduce results bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import POLY_BASE, POLY_MOD
from ..sources.local import local_frame
from .util import spread

# Affine minhash permutations h_j(x) = (A_j * x + B_j) mod MERSENNE61.
# Fixed constants (seeded PRNG, hardcoded for reproducibility). A, B are
# < 2^31 so A*x + B stays below 2^63 for x < POLY_MOD — no int64
# overflow on either engine.
MERSENNE61 = (1 << 61) - 1
MINHASH_COEFFS: tuple[tuple[int, int], ...] = (
    (2128164061, 797605564),
    (596987483, 1944694864),
    (116450323, 582439801),
    (430979122, 468068949),
    (1406942088, 1848070633),
    (1172698796, 805278811),
    (2143289124, 1337851497),
    (252657890, 856063681),
    (1696544698, 461793307),
    (794664036, 1716958479),
    (527406851, 213165048),
    (1903391910, 175932789),
    (666804718, 980593748),
    (1423351957, 1910390390),
    (331877175, 1780096559),
    (664594621, 1940697599),
)
N_HASHES = len(MINHASH_COEFFS)
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by content hash, keep the minimum ID.

    Returns (content_md5, keeper_id, n_copies). One shuffle on the hash;
    at scale, the map-side partial aggregate absorbs most duplicates.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def char_ngrams(col: str, n: int = 3) -> Column:
    """Distinct character n-grams of a string column (JVM-side)."""
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({col}) - {n - 1}, 1)), "
        f"i -> substring({col}, i, {n})))"
    )


def _gram_sets(texts, n: int) -> list:
    """Distinct character ``n``-grams of each text by :func:`char_ngrams`'s
    rule: ``t[k:k+n]`` for every start ``k`` in
    ``range(max(len(t) - n + 1, 1))``, so a text shorter than ``n`` (the
    empty text too) is one partial gram, and a null text is one null
    gram (``greatest`` skips the null length). Python strings index by
    code point, as Spark's ``substring`` and ``length`` do."""
    return [
        frozenset([None])
        if t is None
        else frozenset(t[k : k + n] for k in range(max(len(t) - n + 1, 1)))
        for t in texts
    ]


def _jaccard(inter, size_a, size_b):
    """Exact Jaccard from an intersection count and the two set sizes:
    one float64 division, as the distributed verify's
    ``double / double``. Scalars or numpy arrays."""
    return np.divide(inter, size_a + size_b - inter, dtype=np.float64)


# Gate for the driver-local n-gram Jaccard tier: one incidence product
# per block against the distributed chain's ten Spark jobs. Measured
# (docs/LOCAL_TIERS.md, 20 blocks, warm 4 cores): local wins 1.4 vs
# 33 s at 10k docs and 4.8 vs 163 s at 20k. The gate sits at the largest
# measured size; the crossover is above it.
_NGRAM_LOCAL_MAX_ROWS = 20_000
# Rows on each side of one incidence product: the tier holds at most two
# chunk x gram float32 matrices at a time, whatever the block size.
_NGRAM_CHUNK_ROWS = 512


def _ngram_jaccard_local(spark, local, n: int, threshold: float) -> DataFrame:
    """Driver-local replay of :func:`ngram_jaccard_pairs` for gate-sized
    tagged scans. Per block, the 0/1 doc x gram incidence matrix in
    float32 times its transpose gives every pair's intersection count,
    exact below 2^24; Jaccard, the ``id_a < id_b`` order and the
    ``>= threshold`` cut then match the distributed verify bit for bit.
    A row with a null id, text or block joins no pair there, so it is
    dropped here. Forced-off equality test in
    tests/test_local_vs_distributed.py."""
    blocks: dict = {}
    for did, t, blk in zip(*local):
        if did is not None and t is not None and blk is not None:
            blocks.setdefault(blk, []).append((did, t))
    R = _NGRAM_CHUNK_ROWS
    out_a, out_b, out_j = [np.empty(0, np.int64)], [np.empty(0, np.int64)], [np.empty(0)]
    for docs in blocks.values():
        docs.sort(key=lambda d: d[0])
        m = len(docs)
        ids = np.array([d for d, _ in docs], dtype=np.int64)
        vocab: dict = {}
        grams = [
            np.fromiter((vocab.setdefault(g, len(vocab)) for g in s), np.int64, len(s))
            for s in _gram_sets([t for _, t in docs], n)
        ]
        sizes = np.array([len(g) for g in grams], dtype=np.int64)
        rows = np.repeat(np.arange(m, dtype=np.int64), sizes)
        cols = np.concatenate(grams)
        starts = np.concatenate(([0], np.cumsum(sizes)))
        loc = np.full(len(vocab), -1, dtype=np.int64)  # gram -> column of chunk i
        for i in range(0, m, R):
            ci = np.unique(cols[starts[i] : starts[min(i + R, m)]])
            loc[ci] = np.arange(len(ci))
            for j in range(i, m, R):
                # chunk j over chunk i's grams: the others meet no row of A
                rj = slice(starts[j], starts[min(j + R, m)])
                cj = loc[cols[rj]]
                hit = cj >= 0
                B = np.zeros((min(R, m - j), len(ci)), dtype=np.float32)
                B[rows[rj][hit] - j, cj[hit]] = 1.0
                A = B if j == i else A
                inter = (A @ B.T).astype(np.int64)
                jac = _jaccard(inter, sizes[i : i + R, None], sizes[None, j : j + R])
                a, b = np.nonzero(
                    (ids[i : i + R, None] < ids[None, j : j + R]) & (jac >= threshold)
                )
                out_a.append(ids[i + a])
                out_b.append(ids[j + b])
                out_j.append(jac[a, b])
            loc[ci] = -1
    return local_frame(
        spark,
        {
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "jaccard": np.concatenate(out_j),
        },
        "id_a long, id_b long, jaccard double",
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "source",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs by exact character-``n``-gram Jaccard within blocks:
    every pair of one block with ``id_a < id_b`` and
    ``jaccard >= threshold``. Returns (id_a, id_b, jaccard).

    A gate-sized, untransformed Catalog scan (at most
    ``_NGRAM_LOCAL_MAX_ROWS`` rows, read from the parquet footer with no
    Spark job) is served by :func:`_ngram_jaccard_local`, one incidence
    product per block on the driver. Anything else takes the distributed
    PPJoin chain (Xiao et al. 2008):

    1. explode each doc's distinct grams and rank them per block
       rarest-first (document frequency, then the gram), so every later
       stage works on int gram ids;
    2. prefix filter: J >= t forces a shared gram among each doc's first
       ``|g| - ceil(t*|g|) + 1`` ids, so candidates come from an
       equi-join of the prefix postings on (block, gram id), with the
       length filter inline;
    3. positional filter on the pair's first common prefix gram;
    4. exact verify: ``array_intersect`` of the two full id sets.

    Only pairs that share a prefix gram ever materialize, unlike a
    blocked cross join, whose cost is quadratic in block size whatever
    the similarity.
    """
    from .util import collect_small_columns

    local = collect_small_columns(df, [id_col, text_col, block_col], _NGRAM_LOCAL_MAX_ROWS)
    if local is not None:
        return _ngram_jaccard_local(df.sparkSession, local, n, threshold)

    from pyspark.sql.window import Window

    df = spread(df)  # single-file reads otherwise pin the gram explode to one core
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(block_col).alias("_blk"),
        char_ngrams(text_col, n).alias("_grams"),
    )

    # J(a,b) >= t implies |a∩b| >= t*|a| and >= t*|b|, so under any
    # consistent gram order the smallest common gram falls inside BOTH
    # docs' prefixes of size |g| - ceil(t*|g|) + 1. Order rarest-first
    # (per-block doc-frequency) so prefixes hold the most selective grams.
    # Every downstream stage works on the gram's integer dense rank in
    # that order (_gid), not the gram string: the prefix join shuffles
    # ints, and the verify intersect hashes ints — ~5x cheaper than
    # string sets at sf0.1. (The per-block rank window is skew-prone
    # when one block dominates the corpus; at that scale swap _gid for
    # a fingerprint — the exactness contract here keeps the bijective
    # rank so the DuckDB oracle matches bit-for-bit.)
    exploded = base.select(
        "_id", "_blk", F.size("_grams").alias("_sz"), F.explode("_grams").alias("_g")
    )
    freq = exploded.groupBy("_blk", "_g").agg(F.count("*").alias("_df"))
    # Rank grams on the DISTINCT-gram frame (one row per (block, gram) —
    # ~5x smaller than the exploded postings), then join the int id back;
    # the per-doc position window then sorts plain ints. row_number (not
    # dense_rank) is fine here: (_df, _g) is unique within a block.
    gids = freq.withColumn(
        "_gid",
        F.row_number().over(Window.partitionBy("_blk").orderBy("_df", "_g")),
    ).select("_blk", "_g", "_gid")
    ranked = (
        exploded.join(gids, ["_blk", "_g"])
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("_blk", "_id").orderBy("_gid")),
        )
        .select("_id", "_blk", "_sz", "_gid", "_rn")
        .localCheckpoint(eager=False)  # reused: doc int-sets + prefix postings
    )
    docints = ranked.groupBy("_id").agg(
        F.sort_array(F.collect_list("_gid")).alias("_gi"),
        F.max("_sz").alias("_sz"),
    )
    prefix = ranked.filter(
        F.col("_rn") <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1
    ).select("_id", "_blk", "_gid", "_sz", F.col("_rn").alias("_p"))

    # PPJoin pruning (Xiao et al. 2008 — the filters that took
    # dedup_containment 6.4s -> 2.8s in r4):
    #  - length filter INLINE in the join: J >= t forces
    #    min(|a|,|b|) >= t * max(|a|,|b|);
    #  - EXACT positional filter after grouping to the pair's FIRST
    #    common prefix gram (both matched positions are minimized by the
    #    same gram — positions grow together along the shared rarest-
    #    first order): overlap <= 1 + min(|a|-pa0, |b|-pb0), and J >= t
    #    needs overlap >= ceil(t/(1+t) * (|a|+|b|)).
    sa, sb = F.col("a._sz"), F.col("b._sz")
    a, b = prefix.alias("a"), prefix.alias("b")
    matches = a.join(
        b,
        (F.col("a._blk") == F.col("b._blk"))
        & (F.col("a._gid") == F.col("b._gid"))
        & (F.col("a._id") < F.col("b._id"))
        & (F.least(sa, sb) >= threshold * F.greatest(sa, sb)),
    ).select(
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        sa.alias("_sa"),
        sb.alias("_sb"),
        F.col("a._p").alias("_pa"),
        F.col("b._p").alias("_pb"),
    )
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("_sa") + F.col("_sb"))
    )
    cand = (
        matches.groupBy("id_a", "id_b")
        .agg(
            F.min("_pa").alias("_pa0"),
            F.min("_pb").alias("_pb0"),
            F.max("_sa").alias("_sa"),
            F.max("_sb").alias("_sb"),
        )
        .filter(
            1 + F.least(F.col("_sa") - F.col("_pa0"), F.col("_sb") - F.col("_pb0"))
            >= alpha
        )
        .select("id_a", "id_b")
    )

    ga = docints.select(F.col("_id").alias("id_a"), F.col("_gi").alias("_ga"))
    gb = docints.select(F.col("_id").alias("id_b"), F.col("_gi").alias("_gb"))
    inter = F.size(F.array_intersect("_ga", "_gb"))
    union = F.size("_ga") + F.size("_gb") - inter
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def word_ngrams(col: str, n: int = 2) -> Column:
    """Distinct word n-gram shingles of a text column (JVM-side). A doc
    shorter than ``n`` words contributes its whole text as one shingle
    (mirrors :func:`char_ngrams`'s short-input clamp)."""
    ws = f"split({col}, ' ')"
    return F.expr(
        f"array_distinct(transform(sequence(0, greatest(size({ws}) - {n}, 0)), "
        f"i -> concat_ws(' ', slice({ws}, i + 1, {n}))))"
    )


# Gram-materialization pin for containment_pairs (reused by three
# subtrees); tests toggle it off because localCheckpoint truncates the
# explain output the plan pins assert on. Production never touches it.
PIN_GRAMS = True


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "source",
    n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Directional near-dup pairs by word-n-gram-shingle CONTAINMENT:
    C(a in b) = |grams(a) n grams(b)| / |grams(a)| — the asymmetric
    complement of :func:`ngram_jaccard_pairs` (Broder's containment).
    Jaccard misses excerpts (a 100-word quote inside a 10k-word page has
    tiny Jaccard but containment ~1); this is the signal that catches
    quotation, aggregation, and partial scrapes.

    The gram unit is the WORD shingle, not the char n-gram: char
    trigrams saturate (a few-thousand-string space at corpus scale, so
    every doc spuriously "contains" every other and the inverted index
    degenerates quadratic); word shingles are near-unique, which is
    what keeps the posting lists short and the prefix filter selective.

    Same inverted-index shape as the Jaccard PPJoin, with a ONE-SIDED
    prefix: C(a in b) >= t bounds only the contained side (a's rarest
    |a| - ceil(t*|a|) + 1 shingles must hit b), so the candidate join
    runs a-prefix vs b-FULL postings on (block, shingle). Verification
    is the exact intersect over the full shingle sets. Returns ordered
    (contained_id, container_id, containment) with containment >= t.

    Internally every shingle is replaced by its ``xxhash64`` the moment
    the distinct gram set is built: the posting explode, df count,
    prefix rank, candidate join, and intersect verification all run on
    8-byte longs instead of multi-word strings — a large cut in shuffle
    bytes and in per-row compare cost for the heaviest join here. Equal
    strings hash equal, so no candidate or verified pair is ever lost;
    a 64-bit collision (two distinct shingles, same hash, same doc pair)
    could only ADD spurious intersection mass at ~2^-64 per pair —
    negligible even at 100 TB corpus scale.
    """
    from pyspark.sql.window import Window

    df = spread(df)
    # reused: prefix build + both verify sides
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(block_col).alias("_blk"),
        word_ngrams(text_col, n).alias("_g0"),
    ).select(
        "_id",
        "_blk",
        F.expr("array_distinct(transform(_g0, x -> xxhash64(x)))").alias("_grams"),
    )
    if PIN_GRAMS:  # test-togglable: checkpoint truncates explain output
        base = base.localCheckpoint(eager=False)

    exploded = base.select(
        "_id", "_blk", F.size("_grams").alias("_sz"), F.explode("_grams").alias("_g")
    )
    if PIN_GRAMS:  # exploded feeds both the prefix build and the postings side
        exploded = exploded.localCheckpoint(eager=False)
    freq = exploded.groupBy("_blk", "_g").agg(F.count("*").alias("_df"))
    ranked = exploded.join(freq, ["_blk", "_g"]).withColumn(
        "_rn",
        F.row_number().over(Window.partitionBy("_blk", "_id").orderBy("_df", "_g")),
    )
    prefix = ranked.filter(
        F.col("_rn") <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1
    ).select("_id", "_blk", "_g")

    # NO PPJoin+ positional filter here, deliberately (round-6 revert of
    # the round-5 8c10d1c rewrite): word shingles are near-unique, so the
    # rare-gram prefix postings have df≈1-2 and match positions almost
    # never prune beyond what the prefix already did — measured at sf0.1
    # the positional bound returned the IDENTICAL candidate set 26%
    # slower (3.41s vs 2.52s median), paying for the ranked (windowed)
    # postings side without removing a single row. The positional filter
    # stays in ngram_jaccard_pairs, whose char-gram postings are long
    # enough for it to win. The candidate join is a-prefix vs plain
    # postings; survivors are exactly verified below.
    a, b = prefix.alias("a"), exploded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._g") == F.col("b._g"))
            & (F.col("a._id") != F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("contained_id"), F.col("b._id").alias("container_id")
        )
        .dropDuplicates(["contained_id", "container_id"])
    )

    ga = base.select(F.col("_id").alias("contained_id"), F.col("_grams").alias("_ga"))
    gb = base.select(F.col("_id").alias("container_id"), F.col("_grams").alias("_gb"))
    inter = F.size(F.array_intersect("_ga", "_gb"))
    return (
        cand.join(ga, "contained_id")
        .join(gb, "container_id")
        .select(
            "contained_id",
            "container_id",
            (inter.cast("double") / F.size("_ga").cast("double")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


# Gate for the driver-local SNM tier: the O(n*w) window verify does
# Python set intersections (~50us each at ~1-2k grams/doc), so the
# crossover sits near 10k docs — well under the generic 100k, because
# the work grows with the corpus text rather than a fixed codebook.
_SNM_LOCAL_MAX_ROWS = 10_000


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 5,
    n: int = 3,
    threshold: float = 0.5,
    key_len: int = 24,
    num_partitions: int = 32,
) -> DataFrame:
    """Sorted-neighborhood (SNM) dedup blocking (Hernández & Stolfo,
    SIGMOD '95): sort the corpus ONCE by a cheap deterministic blocking
    key, slide a width-``window`` window down the sorted order, and
    verify only pairs that co-occur in a window — O(n·w) candidate
    pairs instead of per-block quadratics, and the knob (w) bounds work
    independently of how skewed the key distribution is. The
    complementary blocking strategy to the inverted-index/prefix-filter
    family above: SNM wins when near-dups share a prefix-stable key
    (titles, URLs, normalized leads) but differ deep in the text.

    - blocking key: lowercased, alnum-collapsed first ``key_len`` chars
      (deterministic, engine-replayable);
    - global position: operators/rank.global_row_number — range
      repartition + broadcast per-partition offsets, NO single-partition
      window, so the sort scales like any shuffle;
    - candidates: each row joined to the ``window - 1`` successor ranks
      via an exploded offset + equi-join on the rank (an equi-shuffle,
      not a range join);
    - verify: exact char-``n``-gram Jaccard (same math as
      :func:`ngram_jaccard_pairs`).

    Returns (id_a, id_b, jaccard >= threshold), ids in sort order.
    """
    from .rank import global_row_number
    from .util import collect_small_columns

    local = collect_small_columns(df, [id_col, text_col], _SNM_LOCAL_MAX_ROWS)
    if local is not None:
        import re as _re

        ids, texts = local
        # a null text has a null key; both sort keys put nulls first
        recs = sorted(
            (
                (
                    None if t is None else _re.sub(r"[^a-z0-9 ]", "", t.lower())[:key_len],
                    did,
                    grams,
                )
                for did, t, grams in zip(ids, texts, _gram_sets(texts, n))
            ),
            key=lambda r: (r[0] is not None, r[0], r[1] is not None, r[1]),
        )
        out = []
        for i in range(len(recs)):
            ga = recs[i][2]
            for j in range(i + 1, min(i + window, len(recs))):
                gb = recs[j][2]
                jac = _jaccard(len(ga & gb), len(ga), len(gb))
                if jac >= threshold:
                    out.append((recs[i][1], recs[j][1], jac))
        return local_frame(
            df.sparkSession, out, "id_a long, id_b long, jaccard double"
        )

    key = F.expr(
        f"substring(regexp_replace(lower({text_col}), '[^a-z0-9 ]', ''), 1, {key_len})"
    )
    base = spread(df).select(
        F.col(id_col).alias("_id"),
        key.alias("_key"),
        char_ngrams(text_col, n).alias("_grams"),
    )
    pos = global_row_number(
        base, ["_key", "_id"], out_col="_rn", num_partitions=num_partitions
    ).localCheckpoint(eager=False)  # both join sides reuse the ranked frame

    a = pos.select(
        F.col("_id").alias("id_a"),
        F.col("_grams").alias("_ga"),
        F.explode(
            F.expr(f"transform(sequence(1, {window - 1}), d -> _rn + d)")
        ).alias("_rnb"),
    )
    b = pos.select(
        F.col("_id").alias("id_b"),
        F.col("_grams").alias("_gb"),
        F.col("_rn").alias("_rnb"),
    )
    inter = F.size(F.array_intersect("_ga", "_gb"))
    jac = inter.cast("double") / (
        F.size("_ga") + F.size("_gb") - inter
    ).cast("double")
    return (
        a.join(b, "_rnb")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# combiner base for shingle hash = poly-combine of the k token hashes
SHINGLE_BASE = 1_000_003


def _shingle_hashes_sql(col: str, k: int = 3) -> str:
    """SQL for distinct hashes of k-word shingles.

    Two-level scheme: polyhash each token ONCE (chars), then each shingle
    hash poly-combines k consecutive token hashes — O(chars) total
    instead of O(k * chars). All int64 ops stay below 2^63
    (token hash < 1e9+7, * 1e6+3 + next < 2^60).
    """
    token_hashes = (
        f"transform(split({col}, ' '), w -> aggregate(transform(sequence(1, length(w)), "
        f"j -> bigint(ascii(substring(w, j, 1)))), bigint(0), "
        f"(a, b) -> (a * {POLY_BASE} + b) % {POLY_MOD}))"
    )
    combine = f"aggregate(slice(th, i, {k}), bigint(0), (a, b) -> (a * {SHINGLE_BASE} + b) % {POLY_MOD})"
    return (
        f"transform(array({token_hashes}), th -> "
        f"array_distinct(transform(sequence(1, greatest(size(th) - {k - 1}, 1)), "
        f"i -> {combine})))[0]"
    )


def word_shingle_hashes(col: str, k: int = 3) -> Column:
    """Distinct polyhashes of k-word shingles of a text column."""
    return F.expr(_shingle_hashes_sql(col, k))


def minhash_signature(col: str) -> Column:
    """MinHash signature: array of N_HASHES minima of affine-permuted
    shingle hashes."""
    mins = ", ".join(
        f"array_min(transform(sh, h -> ({a} * h + {b}) % {MERSENNE61}))"
        for a, b in MINHASH_COEFFS
    )
    # bind the shingle-hash array once via a single-element transform
    return F.element_at(
        F.expr(f"transform(array({_shingle_hashes_sql(col)}), sh -> array({mins}))"), 1
    )


def _minhash_kernel(texts) -> np.ndarray:
    """Vectorized minhash signatures for a batch of texts — the shared
    numpy kernel behind both :func:`minhash_signature_arrow` (executor
    side, per Arrow batch) and the driver-local replay in
    ``pipelines.py``. Bit-identical to
    :func:`minhash_signature`: same constants, same integer arithmetic —
    all intermediates < 2^63 so numpy int64 never wraps. Returns an
    ``(len(texts), N_HASHES)`` int64 array.
    """
    coef = np.array(MINHASH_COEFFS, dtype=np.int64)
    # Word-level polyhash with a per-batch cache: real corpora repeat
    # words constantly, so the char-level fold runs once per distinct
    # word, not once per occurrence. Shingle folding and the 16
    # permutations then run as batch-wide numpy ops — the minimum
    # over duplicate shingles equals the minimum over the unique
    # set, so no per-doc set() is needed.
    vocab: dict[str, int] = {}
    flat: list[int] = []
    lens = np.empty(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        toks = t.split(" ")
        lens[i] = len(toks)
        for w in toks:
            h = vocab.get(w)
            if h is None:
                h = 0
                for ch in w:
                    h = (h * POLY_BASE + ord(ch)) % POLY_MOD
                vocab[w] = h
            flat.append(h)
    T = np.asarray(flat, dtype=np.int64)
    ends = np.cumsum(lens)
    starts = ends - lens

    result = np.empty((len(texts), N_HASHES), dtype=np.int64)
    big = np.nonzero(lens >= 3)[0]
    if big.size:
        # window starts for all >=3-token docs: positions p with
        # p+2 still inside the same doc, marked via a run-length
        # +1/-1 sweep (no per-doc Python loop)
        n_win = lens[big] - 2
        run = np.zeros(T.size + 1, dtype=np.int64)
        run[starts[big]] += 1
        run[starts[big] + n_win] -= 1
        ws = np.nonzero(np.cumsum(run[:-1]) > 0)[0]
        h1 = (T[ws] * SHINGLE_BASE + T[ws + 1]) % POLY_MOD
        sh = (h1 * SHINGLE_BASE + T[ws + 2]) % POLY_MOD
        perm = (coef[:, 0:1] * sh[None, :] + coef[:, 1:2]) % MERSENNE61
        wb = np.concatenate(([0], np.cumsum(n_win)[:-1]))
        result[big] = np.minimum.reduceat(perm, wb, axis=1).T
    for i in np.nonzero(lens < 3)[0]:
        # 1- or 2-token doc: the single shingle folds ALL tokens
        h = 0
        for x in flat[int(starts[i]) : int(ends[i])]:
            h = (h * SHINGLE_BASE + x) % POLY_MOD
        result[i] = (coef[:, 0] * h + coef[:, 1]) % MERSENNE61
    return result


def minhash_signature_arrow(text_col: str = "text") -> Column:
    """MinHash signature via an Arrow-batched Pandas UDF.

    Bit-identical to :func:`minhash_signature` (see
    :func:`_minhash_kernel`) but ~2x faster: the 16 affine permutations
    and minima run as one vectorized numpy op per document instead of 16
    nested higher-order-function evaluations.
    """
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def _mh(texts: pd.Series) -> pd.Series:
        return pd.Series(list(_minhash_kernel(texts)))

    return _mh(text_col)


def _signature_frame(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(_id, _sig) minhash signatures, checkpointed so downstream
    self-joins compute them once."""
    df = spread(df)  # parallelize the signature UDF when the scan gave one split
    return df.select(
        F.col(id_col).alias("_id"), minhash_signature_arrow(text_col).alias("_sig")
    ).localCheckpoint(eager=False)


def _band_frame(sig: DataFrame) -> DataFrame:
    """Explode signatures into (_id, _sig, band, key) LSH bucket rows."""
    return sig.select(
        "_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.concat_ws(
                            "-",
                            *[
                                F.element_at("_sig", i * ROWS_PER_BAND + j + 1)
                                for j in range(ROWS_PER_BAND)
                            ],
                        ).alias("key"),
                    )
                    for i in range(N_BANDS)
                ]
            )
        ).alias("_band"),
    ).select("_id", "_sig", "_band.band", "_band.key")


def _sig_agreement() -> Column:
    """Estimated Jaccard: fraction of agreeing signature components
    (expects sig_a / sig_b columns in scope)."""
    return F.size(
        F.expr("filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)")
    ).cast("double") / F.lit(float(N_HASHES))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    est_threshold: float = 0.5,
) -> DataFrame:
    """MinHash/LSH candidate pairs with estimated Jaccard.

    signatures -> band keys -> shuffle on band key -> same-bucket pairs
    -> estimate = fraction of agreeing signature components. Returns
    (id_a, id_b, est_jaccard). The band shuffle is the only wide
    exchange; pair generation is local per bucket.
    """
    bands = _band_frame(_signature_frame(df, text_col, id_col))
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._sig").alias("sig_a"),
            F.col("b._sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = (
        F.size(F.expr("filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)")).cast(
            "double"
        )
        / F.lit(float(N_HASHES))
    )
    return (
        pairs.select("id_a", "id_b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= est_threshold)
    )


def minhash_lsh_match(
    base: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    est_threshold: float = 0.5,
) -> DataFrame:
    """Incremental dedup: match ``probe`` docs against a ``base`` corpus.

    The crawl-ingest shape: new documents are checked against the
    already-kept corpus, not against each other — a band-key equi-join
    between the two sides (never a self-join of the union, which would
    also pair new docs with new docs). Returns one row per probe doc
    that has at least one base match over ``est_threshold``:
    ``(id_col, n_matches, min_match_id, best_est)`` — all aggregates
    order-insensitive, so results are deterministic.

    At 100 TB the base signature/band frame is precomputed once and
    reused across ingest batches (store it bucketed by band key to make
    the per-batch join shuffle-free on the base side).
    """
    base_bands = _band_frame(_signature_frame(base, text_col, id_col))
    probe_bands = _band_frame(_signature_frame(probe, text_col, id_col))
    pairs = (
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
    )
    return pairs.groupBy(F.col("probe_id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("base_id").alias("min_match_id"),
        F.max("est").alias("best_est"),
    )


def simhash32(col: str) -> Column:
    """32-bit SimHash over whitespace-token polyhashes: bit i is the
    majority vote of token-hash bit i."""
    token_hashes = (
        f"transform(split({col}, ' '), w -> aggregate(transform(sequence(1, length(w)), "
        f"j -> bigint(ascii(substring(w, j, 1)))), bigint(0), "
        f"(a, b) -> (a * {POLY_BASE} + b) % {POLY_MOD}))"
    )
    terms = " + ".join(
        f"(CASE WHEN 2 * size(filter(hs, h -> (h div {1 << i}) % 2 = 1)) > size(hs) "
        f"THEN bigint({1 << i}) ELSE bigint(0) END)"
        for i in range(32)
    )
    # bind the token-hash array once (hs) via a single-element transform
    return F.element_at(F.expr(f"transform(array({token_hashes}), hs -> ({terms}))"), 1)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "source",
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming within blocks.

    Returns (id_a, id_b, hamming). At scale, block on simhash byte
    chunks (pigeonhole: a pair within distance d shares one of d+1
    chunks) instead of a metadata column.
    """
    df = spread(df)
    s = df.select(
        F.col(id_col).alias("_id"),
        F.col(block_col).alias("_blk"),
        simhash32(text_col).alias("_sh"),
    ).localCheckpoint(eager=False)  # materialize: both join sides reuse the fingerprints
    a, b = s.alias("a"), s.alias("b")
    ham = F.expr("bit_count(a._sh ^ b._sh)")
    return (
        a.join(b, (F.col("a._blk") == F.col("b._blk")) & (F.col("a._id") < F.col("b._id")))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs_global(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 6,
) -> DataFrame:
    """ALL near-dup pairs with Hamming(simhash) <= max_hamming — no block
    column needed, via the pigeonhole principle: split the 32-bit hash
    into ``max_hamming + 1`` chunks; any pair within distance d differs
    in at most d chunks, so at least one chunk is IDENTICAL. Candidates
    = pairs sharing (chunk_idx, chunk_value); verify exact distance on
    candidates only.

    The one wide exchange is the chunk-key shuffle — the standard exact
    simhash index at crawl scale. Returns (id_a, id_b, hamming).
    """
    n_chunks = max_hamming + 1
    bits = 32 // n_chunks + (1 if 32 % n_chunks else 0)
    s = spread(df).select(
        F.col(id_col).alias("_id"), simhash32(text_col).alias("_sh")
    ).localCheckpoint(eager=False)
    chunks = s.select(
        "_id",
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        ((F.col("_sh") / (1 << (i * bits))).cast("long")
                         % (1 << bits)).alias("cv"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("_c"),
    ).select("_id", "_sh", "_c.ci", "_c.cv")
    a, b = chunks.alias("a"), chunks.alias("b")
    # The Hamming verify runs INLINE in the join stage, before the pair
    # dedup: with 32/(d+1)-bit chunk values the candidate buckets are
    # fat, and shuffling every candidate into dropDuplicates first was
    # ~20x the cost of this plan (bit_count is one codegen instruction;
    # the dedup exchange now carries only true near-dup pairs).
    ham = F.expr("bit_count(a._sh ^ b._sh)")
    return (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a._id") < F.col("b._id"))
            & (ham <= max_hamming),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def cosine(a: str, b: str) -> Column:
    """Cosine similarity of two float-array columns, computed in double
    with a fixed left-to-right fold (deterministic, oracle-matchable)."""
    dot = F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> double(x) * double(y)), "
        f"double(0), (acc, v) -> acc + v)"
    )
    na = F.expr(
        f"sqrt(aggregate(transform({a}, x -> double(x) * double(x)), double(0), (acc, v) -> acc + v))"
    )
    nb = F.expr(
        f"sqrt(aggregate(transform({b}, x -> double(x) * double(x)), double(0), (acc, v) -> acc + v))"
    )
    return dot / (na * nb)


def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str = "label",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding near-dup pairs: cosine >= threshold within blocks.

    Returns (id_a, id_b, cos). The block column (a label, cluster id, or
    LSH bucket) bounds the pair space; at 100 TB pre-bucket with
    random-hyperplane LSH so each bucket self-join is broadcastable.
    """
    norm = F.expr(
        f"sqrt(aggregate(transform({vec_col}, x -> double(x) * double(x)), "
        f"double(0), (acc, v) -> acc + v))"
    )
    # norms computed ONCE per vector (not per pair) — the per-pair work is
    # just the dot product; values are identical to the per-pair form
    v = spread(df).select(
        F.col(id_col).alias("_id"),
        F.col(block_col).alias("_blk"),
        F.col(vec_col).alias("_v"),
        norm.alias("_n"),
    ).localCheckpoint(eager=False)
    a, b = v.alias("a"), v.alias("b")
    dot = F.expr(
        "aggregate(zip_with(a._v, b._v, (x, y) -> double(x) * double(y)), "
        "double(0), (acc, v) -> acc + v)"
    )
    return (
        a.join(b, (F.col("a._blk") == F.col("b._blk")) & (F.col("a._id") < F.col("b._id")))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            (dot / (F.col("a._n") * F.col("b._n"))).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def levenshtein_pairs(
    df: DataFrame,
    max_dist: int = 12,
    prefix_len: int = 48,
    block_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_salts: int = 16,
) -> DataFrame:
    """Edit-distance near-dup pairs on text prefixes, blocked.

    The fuzzy-join face of the family — right for SHORT strings
    (titles, names, entity resolution); for long documents use minhash
    or PPJoin (quadratic edit distance doesn't pay there). Cost control,
    in order: block on ``block_col`` (the shuffle key), prune candidates
    whose prefix lengths differ by more than ``max_dist`` (a free
    necessary condition on edit distance), then run the THRESHOLDED
    JVM levenshtein (early-exits past ``max_dist`` instead of filling
    the full DP matrix). Returns (id_a, id_b, edit_dist).

    The self-join is SALTED: the left side takes a deterministic salt
    hash(id) % n_salts, the right side is replicated across all salts,
    and the join key becomes (block, salt) — blocks × n_salts tasks
    share the quadratic verify work. Without it, a low-cardinality
    block key leaves the CPU-heavy stage on #blocks cores (and AQE
    coalesces the small shuffle even further). The ×n_salts
    replication only touches the prefix projection, not the corpus.
    """
    def side(tag: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"id_{tag}"),
            F.col(block_col).alias(f"_blk_{tag}"),
            F.substring(F.col(text_col), 1, prefix_len).alias(f"_p_{tag}"),
        ).withColumn(f"_len_{tag}", F.length(f"_p_{tag}"))

    a = spread(side("a")).withColumn(
        "_salt", F.pmod(F.xxhash64("id_a"), F.lit(n_salts)).cast("int")
    )
    b = side("b").withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    d = F.expr(f"levenshtein(_p_a, _p_b, {int(max_dist)})")
    return (
        a.alias("a").join(
            b.alias("b"),
            (F.col("_blk_a") == F.col("_blk_b"))
            & (F.col("a._salt") == F.col("b._salt"))
            & (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("_len_a") - F.col("_len_b")) <= max_dist),
        )
        .withColumn("edit_dist", d)
        .filter(F.col("edit_dist") >= 0)
        .select("id_a", "id_b", F.col("edit_dist").cast("int").alias("edit_dist"))
    )


def gram_hashes(col: str, k: int) -> Column:
    """All character-k-gram Rabin-Karp rolling hashes of ``col`` (with
    positions implied by array index; base/mod shared with winnowing).
    Documents shorter than ``k`` contribute one partial gram covering
    the whole text, so every non-empty document has >= 1 hash."""
    n_grams = f"greatest(length({col}) - {k - 1}, 1)"
    return F.expr(
        f"transform(sequence(1, {n_grams}), i -> "
        f"aggregate(transform(sequence(i, least(i + {k - 1}, length({col}))), "
        f"j -> bigint(ascii(substring({col}, j, 1)))), "
        f"bigint(0), (a, b) -> (a * {POLY_BASE} + b) % {POLY_MOD}))"
    )


def gram_hashes_arrow(col: str, k: int) -> Column:
    """Vectorized :func:`gram_hashes` (identical output, Arrow batch).

    The expression version folds O(len·k) interpreted array ops per
    document. Here each gram hash is one numpy dot against the
    mod-reduced power ladder: since ``(Σ bⱼ·Bᵏ⁻¹⁻ʲ) mod M`` equals the
    per-step-mod fold (mod is a ring homomorphism), reducing the POWERS
    mod M keeps every int64 term < 2^60 — one vector multiply-add per
    offset and a single final mod, no Python-level rolling loop for
    docs >= k chars.
    """
    from pyspark.sql.types import ArrayType, LongType

    pows = _gram_pows(k)

    @F.pandas_udf(ArrayType(LongType()))
    def _grams(texts: pd.Series) -> pd.Series:
        return pd.Series([_gram_kernel(t, k, pows).tolist() for t in texts])

    return _grams(col)


def _gram_pows(k: int) -> list:
    """Mod-reduced power ladder for the k-gram dot product."""
    return [(POLY_BASE ** (k - 1 - j)) % POLY_MOD for j in range(k)]


def _gram_kernel(t: str, k: int, pows: list) -> np.ndarray:
    """Rolling k-gram hashes of one text as an int64 array — the shared
    numpy kernel behind :func:`gram_hashes_arrow` and the driver-local
    tier in :func:`substring_dup_spans`."""
    b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8).astype(np.int64)
    # match Spark ascii() on non-ASCII: codepoint per character
    if b.max(initial=0) > 127:
        b = np.array([ord(c) for c in t], dtype=np.int64)
    n = len(b)
    if n >= k:
        return sum(b[j : n - k + 1 + j] * p for j, p in enumerate(pows)) % POLY_MOD
    acc = 0  # one partial gram covering the whole (short) text
    for x in b:
        acc = (acc * POLY_BASE + int(x)) % POLY_MOD
    return np.array([acc], dtype=np.int64)


# Gate for the driver-local span tier (pattern of _SNM_LOCAL_MAX_ROWS):
# the whole-corpus gram sweep is numpy-vectorized end to end. Set BELOW
# the measured crossover with margin (docs/LOCAL_TIERS.md table, 3-run
# medians: local WINS at 10k docs — 2.14 s vs 2.30 s — and loses from
# 20k up, 4.35 s vs 2.91 s) — the lexsort grows superlinearly while the
# distributed gram-key shuffle spreads across cores.
_SPANS_LOCAL_MAX_ROWS = 10_000


def _spans_local(spark, local, k: int, min_docs: int, id_col: str) -> DataFrame:
    """Driver-local replay of :func:`substring_dup_spans` for gate-sized
    tagged scans — same gram hashes (shared kernel), same distinct-doc
    cut, same gaps-and-islands merge, all as whole-corpus numpy ops.
    Bit-identical to the distributed chain (forced-off equality test in
    tests/test_local_vs_distributed.py)."""
    ids, texts = local
    pows = _gram_pows(k)
    per_doc = [_gram_kernel(t, k, pows) for t in texts]
    H = np.concatenate(per_doc) if per_doc else np.empty(0, dtype=np.int64)
    D = np.repeat(np.arange(len(ids), dtype=np.int64), [len(h) for h in per_doc])
    P = np.concatenate([np.arange(len(h), dtype=np.int64) for h in per_doc]) if per_doc else np.empty(0, dtype=np.int64)

    # hashes present in >= min_docs DISTINCT docs
    order = np.lexsort((D, H))
    Hs, Ds = H[order], D[order]
    first = np.ones(len(Hs), dtype=bool)
    first[1:] = (Hs[1:] != Hs[:-1]) | (Ds[1:] != Ds[:-1])
    uh, nd = np.unique(Hs[first], return_counts=True)
    dup = uh[nd >= min_docs]

    hit = np.isin(H, dup)  # rows are (doc, pos) grouped by doc, pos ascending
    hd, hp = D[hit], P[hit]
    brk = np.ones(len(hd), dtype=bool)
    if len(hd) > 1:
        brk[1:] = (hd[1:] != hd[:-1]) | (hp[1:] - hp[:-1] > k - 1)
    starts = np.nonzero(brk)[0]
    n_spans = np.zeros(len(ids), dtype=np.int64)
    dup_chars = np.zeros(len(ids), dtype=np.int64)
    if len(starts):
        ends = np.append(starts[1:], len(hd)) - 1
        span_doc = hd[starts]
        span_chars = hp[ends] - hp[starts] + k
        np.add.at(n_spans, span_doc, 1)
        np.add.at(dup_chars, span_doc, span_chars)

    rows = []
    for i, (did, t) in enumerate(zip(ids, texts)):
        n_chars = len(t)
        dc = min(int(dup_chars[i]), n_chars)
        frac = float(dc) / float(n_chars) if n_chars else float("nan")
        rows.append((did, n_chars, int(n_spans[i]), dc, frac))
    return local_frame(
        spark,
        rows,
        f"{id_col} long, n_chars int, n_dup_spans long, dup_chars long,"
        " dup_frac double",
    )


def substring_dup_spans(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-substring coverage: which character spans
    of each document also appear (as an exact k-gram) in >= ``min_docs``
    distinct documents, and what fraction of the text they cover.

    Hash-based formulation of exact substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" uses a
    suffix array — inherently sequential; this is the shuffle-friendly
    equivalent): a span is duplicated iff one of its k-grams is shared,
    so shared k-gram hashes recover the same coverage up to hash
    collisions (~n^2/2^30 expected false grams at POLY_MOD).

    Plan shape (three key-partitioned shuffles, no driver state):
    1. posexplode all k-gram hashes — (id, pos, h);
    2. aggregate h -> distinct-doc count, keep hashes in >= min_docs
       docs (map-side partial absorbs within-doc repeats);
    3. join hits back on h, then per-doc window merges overlapping
       [pos, pos+k-1] intervals (gaps-and-islands: same-length sorted
       intervals merge iff start gap <= k-1) and sums covered chars.

    Returns one row per input document: (id, n_chars, n_dup_spans,
    dup_chars, dup_frac) — zero-filled for documents with no shared
    span, so the output is a total quality signal like text_quality.
    """
    from pyspark.sql.window import Window

    from .util import collect_small_columns

    local = collect_small_columns(df, [id_col, text_col], _SPANS_LOCAL_MAX_ROWS)
    if local is not None:
        return _spans_local(df.sparkSession, local, k, min_docs, id_col)

    df = spread(df)
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(gram_hashes_arrow(text_col, k)).alias("_pos", "_h"),
    ).localCheckpoint(eager=False)  # reused: dup-hash build + hit join

    dup_hashes = (
        grams.groupBy("_h")
        .agg(F.count_distinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_h")
    )
    hits = grams.join(dup_hashes, "_h").select("_id", "_pos")

    w = Window.partitionBy("_id").orderBy("_pos")
    islands = (
        hits.withColumn("_prev", F.lag("_pos").over(w))
        .withColumn(
            "_new",
            (F.col("_prev").isNull() | (F.col("_pos") - F.col("_prev") > k - 1)).cast("int"),
        )
        .withColumn("_island", F.sum("_new").over(w))
        .groupBy("_id", "_island")
        .agg((F.max("_pos") - F.min("_pos") + k).alias("_span_chars"))
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_spans"),
            F.sum("_span_chars").alias("dup_chars"),
        )
    )
    return (
        df.select(F.col(id_col), F.length(text_col).alias("n_chars"))
        .join(islands.withColumnRenamed("_id", id_col), id_col, "left")
        .na.fill(0, ["n_dup_spans", "dup_chars"])
        # docs shorter than k carry one partial gram whose nominal span
        # is k chars — clamp coverage to the document length
        .withColumn("dup_chars", F.least(F.col("dup_chars"), F.col("n_chars")))
        .withColumn(
            "dup_frac",
            F.col("dup_chars").cast("double") / F.col("n_chars").cast("double"),
        )
    )


def block_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_words: int = 10,
    min_docs: int = 2,
    delimiter: str | None = None,
) -> DataFrame:
    """Corpus-level line/segment deduplication (C4 §2.2 / RefinedWeb
    boilerplate removal): a segment whose exact text appears in at least
    ``min_docs`` DISTINCT documents is boilerplate (nav bars, licenses,
    cookie banners) and is removed from every document.

    ``delimiter`` splits documents into natural lines when the corpus
    has them; for line-less text, segments are non-overlapping
    ``block_words``-word blocks (the default, matching the synthetic
    corpus). Returns (id, n_blocks, n_removed, cleaned_text).

    Scale shape: the segment-frequency aggregation is ONE partial-agg
    shuffle keyed on segment text (the same key the removal join needs),
    and the boilerplate set — segments repeated across documents — is
    tiny relative to the corpus, so the removal join broadcasts under
    AQE. Document reconstruction is a per-doc ``collect_list`` +
    ``array_sort`` (bounded by document length, never corpus size). At
    100 TB, swap the join key for ``xxhash64(segment)`` to cut shuffle
    width (collision odds ~n²/2⁶⁴; the exactness contract here keeps
    the full text key so the DuckDB oracle matches bit-for-bit).
    """
    if delimiter is not None:
        segs = F.split(F.col(text_col), delimiter)
    else:
        ws = F.split(F.col(text_col), " ")
        n_blocks = F.ceil(F.size(ws) / F.lit(block_words)).cast("int")
        segs = F.transform(
            F.sequence(F.lit(0), n_blocks - 1),
            lambda i: F.concat_ws(
                " ", F.slice(ws, i * block_words + 1, block_words)
            ),
        )
    blocks = docs.select(
        F.col(id_col), F.posexplode(segs).alias("blk_idx", "blk")
    )
    boiler = (
        blocks.groupBy("blk")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("blk", "_nd")
    )
    flagged = blocks.join(boiler, "blk", "left").withColumn(
        "_dup", F.col("_nd").isNotNull()
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.col("_dup").cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("blk_idx", "blk", "_dup"))),
                    lambda s: ~s["_dup"],
                ),
                lambda s: s["blk"],
            ),
            " ",
        ).alias("cleaned_text"),
    )


def plan_lsh_bands(
    threshold: float, n_hashes: int = N_HASHES
) -> dict:
    """Choose the (bands, rows-per-band) split of an ``n_hashes`` MinHash
    signature for a target Jaccard ``threshold`` — the index-design step
    that precedes any LSH build (Leskovec/Rajaraman/Ullman, MMDS ch. 3).

    For b bands of r rows, a pair with true similarity s collides with
    probability ``p(s) = 1 - (1 - s^r)^b`` (the S-curve). The planner
    scores every divisor split by the sum of the false-positive area
    (integral of p below the threshold — wasted verification work) and
    the false-negative area (integral of 1-p above it — missed dups),
    evaluated by midpoint rule on a fixed grid so the choice is
    deterministic, and returns the argmin with the curve's threshold
    ``(1/b)^(1/r)`` and the collision probability AT the target.

    Driver-side arithmetic on index PARAMETERS, not data: at 100 TB the
    cost of a mis-planned index (a band too coarse floods verification;
    too fine drops real dups) dwarfs any query, which is why the
    planner is part of the operator family. Weight the two areas via
    ``fp_weight`` in a wrapper if verification cost dominates recall.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    best = None
    grid = 200
    for r in range(1, n_hashes + 1):
        if n_hashes % r:
            continue
        b = n_hashes // r
        fp = fn = 0.0
        for i in range(grid):
            s = (i + 0.5) / grid
            p = 1.0 - (1.0 - s ** r) ** b
            if s < threshold:
                fp += p / grid
            else:
                fn += (1.0 - p) / grid
        score = fp + fn
        if best is None or score < best["error_area"]:
            best = {
                "bands": b,
                "rows_per_band": r,
                "error_area": score,
                "fp_area": fp,
                "fn_area": fn,
                "curve_threshold": (1.0 / b) ** (1.0 / r),
                "p_at_threshold": 1.0 - (1.0 - threshold ** r) ** b,
            }
    return best
