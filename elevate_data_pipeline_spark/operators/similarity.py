"""Similarity search over embedding columns.

- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
  One shuffle (the query-side broadcast is free when queries are few).
- ``ivf_topk``: IVF-style two-stage search — assign each query to its
  nearest coarse cell, then search only that cell. The scale path: at
  100 TB the corpus is bucketed once (by cluster assignment), queries
  probe a handful of buckets, and each bucket scan is an embarrassingly
  parallel partition-local job.

Cosine math matches :func:`..operators.dedup.cosine` — double-precision
left-to-right folds, deterministic and oracle-matchable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.local import local_frame
from .util import spread

from .dedup import cosine

def _norm(vec_col: str):
    """Vector L2 norm, computed once per row (same fold as dedup.cosine)."""
    return F.expr(
        f"sqrt(aggregate(transform({vec_col}, x -> double(x) * double(x)), "
        f"double(0), (acc, v) -> acc + v))"
    )


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> double(x) * double(y)), "
        f"double(0), (acc, v) -> acc + v)"
    )



def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (excluding self).

    Returns (query_id, neighbor_id, rank, cos). Ties broken by neighbor
    id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
        _norm(vec_col).alias("_qn"),
    )
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"),
        _norm(vec_col).alias("_cn"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot("_qv", "_cv") / (F.col("_qn") * F.col("_cn"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining: per query, the top-k most-similar corpus
    vectors with a DIFFERENT label (contrastive-training negatives that
    are hard precisely because they score high despite the label
    mismatch).

    Same distributed shape as :func:`brute_force_topk` — the query side
    broadcasts, the corpus streams, the label inequality is part of the
    join condition so same-class rows are dropped before scoring. At
    index scale, pre-bucket with LSH/IVF and apply the same label filter
    inside each probed bucket.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("_ql"),
        F.col(vec_col).alias("_qv"),
        _norm(vec_col).alias("_qn"),
    )
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("_cl"),
        F.col(vec_col).alias("_cv"),
        _norm(vec_col).alias("_cn"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("_ql") != F.col("_cl"))
        .select(
            "query_id",
            "neighbor_id",
            F.col("_cl").alias("neg_label"),
            (_dot("_qv", "_cv") / (F.col("_qn") * F.col("_cn"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "neg_label", "rank", "cos")
    )


# Random-hyperplane LSH: N_PLANES deterministic integer hyperplanes
# (affine PRNG over the dimension index, centered on 0). Deterministic so
# index build and SQL oracle reproduce the buckets bit-for-bit.
N_PLANES = 6
_PLANE_SEEDS = (
    (2128164061, 797605564),
    (596987483, 1944694864),
    (116450323, 582439801),
    (430979122, 468068949),
    (1406942088, 1848070633),
    (1172698796, 805278811),
)


def plane_coeffs(dim: int) -> list[list[int]]:
    """Integer hyperplane coefficients in [-1000, 1000], one row per plane."""
    return [
        [((a * (d + 1) + b) % 2001) - 1000 for d in range(dim)]
        for a, b in _PLANE_SEEDS[:N_PLANES]
    ]


def lsh_bucket(vec_col: str, dim: int) -> F.Column:
    """Sign-of-dot-product bucket id in [0, 2^N_PLANES): bit j is the sign
    of the query against hyperplane j. All math is a left-to-right double
    fold, identical in the SQL oracle."""
    bits = []
    for j, row in enumerate(plane_coeffs(dim)):
        dot = F.expr(
            f"aggregate(zip_with({vec_col}, array({', '.join(str(float(c)) + 'D' for c in row)}), "
            f"(x, c) -> double(x) * c), 0D, (a, b) -> a + b)"
        )
        bits.append(F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """LSH-bucketed ANN: exact top-k within the query's own hyperplane
    bucket. The corpus shuffles once on the bucket key (or is bucketed at
    rest); each bucket self-scan is partition-local — the alternative
    scale path to :func:`ivf_topk` when no cluster structure exists.
    """
    c = spread(corpus).select(
        lsh_bucket(vec_col, dim).alias("bucket"),
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _norm(vec_col).alias("_cn"),
    )
    q = queries.select(
        lsh_bucket(vec_col, dim).alias("bucket"),
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm(vec_col).alias("_qn"),
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "bucket", "neighbor_id",
            (_dot("_qv", "_cv") / (F.col("_qn") * F.col("_cn"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "bucket", "neighbor_id", "rank", "cos")
    )


def ivf_centroids(
    corpus: DataFrame,
    cell_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic cell representatives: the embedding of the minimum
    ID per cell (a medoid proxy — no floating-point averaging, so the
    index build is reproducible bit-for-bit). ``min_by`` aggregate, not
    a per-cell ranking window: one partial-agg shuffle, and a popular
    cell never funnels through a single window task."""
    return corpus.groupBy(F.col(cell_col).alias("cell")).agg(
        F.min_by(vec_col, id_col).alias("centroid")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    cell_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF two-stage ANN: route each query to its best cell (max cosine
    to the cell representative, ties -> smaller cell id), then exact
    top-k within that cell only.

    Returns (query_id, cell, neighbor_id, rank, cos). Approximate:
    recall < 1 when true neighbors live outside the probed cell —
    that's the intended trade; probe more cells for higher recall.
    """
    cents = ivf_centroids(corpus, cell_col, vec_col, id_col)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))

    routed = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cents))
        .select("query_id", "_qv", "cell", cosine("_qv", "centroid").alias("_ccos"))
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("_ccos"), F.asc("cell"))
    best = (
        routed.withColumn("_rn", F.row_number().over(wr))
        .filter(F.col("_rn") == 1)
        .select("query_id", "_qv", "cell")
    )

    c = spread(corpus).select(
        F.col(cell_col).alias("cell"),
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _norm(vec_col).alias("_cn"),
    )
    scored = (
        F.broadcast(best)
        .join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "cell", "neighbor_id",
            (_dot("_qv", "_cv") / (_norm("_qv") * F.col("_cn"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cell", "neighbor_id", "rank", "cos")
    )


def normalize(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "unit"
) -> DataFrame:
    """Unit-L2-normalize an embedding column (JVM higher-order exprs,
    no Python in the path). Adds ``norm`` (double) and ``out_col``
    (array<double>); zero vectors get null elements (nullif guard)
    rather than NaN/Inf. Normalizing once at ingest turns every
    downstream cosine into a plain dot product — at 100 TB that halves
    the ANN scan's flop count and lets the stored vector be the unit
    one."""
    return df.withColumn("norm", _norm(vec_col)).withColumn(
        out_col,
        F.expr(f"transform({vec_col}, v -> double(v) / nullif(norm, double(0)))"),
    )


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "q"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|v| / 127,
    q_i = floor(v_i / scale + 0.5) (explicit half-up — identical math
    in any engine, unlike round()'s per-engine tie rules). Adds
    ``scale`` (double) and ``out_col`` (array<int> in [-127, 127]).
    4× smaller vectors and int-SIMD dot products downstream; dequant is
    q_i * scale."""
    scale = F.expr(
        f"array_max(transform({vec_col}, v -> abs(double(v)))) / double(127)"
    )
    return df.withColumn("scale", scale).withColumn(
        out_col,
        F.expr(
            f"transform({vec_col}, "
            f"v -> cast(floor(double(v) / nullif(scale, double(0)) + 0.5) as int))"
        ),
    )


_SQ_L2 = (
    "aggregate(zip_with({a}, {b}, (x, y) -> "
    "(double(x) - double(y)) * (double(x) - double(y))), "
    "double(0), (acc, t) -> acc + t)"
)

# Trained PQ index cache: (session id, source parquet files, params) ->
# (session ref, (codebooks, codes)). Training the m Lloyd chains is
# by far the dominant cost of the PQ family (encode / ADC search / recall
# eval all need the SAME index), and a real deployment trains the index
# once and serves many searches from it — so the codebooks (k*m rows)
# and the code assignments (the PQ index itself: id + m small ints per
# vector) are eagerly localCheckpoint-pinned and reused for any later
# call in the same session over the same source files with the same
# parameters. Frames with no stable file lineage (in-memory test data)
# are never cached. The session object is held in the value so its id()
# cannot be recycled while an entry is alive. Bounded FIFO (oldest
# trained index evicted past _PQ_CACHE_MAX) so a long-lived session
# sweeping many sources cannot pin unbounded checkpoint blocks.
_PQ_CACHE: dict = {}
_PQ_CACHE_MAX = 8

# Corpora at or below this row count train the PQ index on the driver
# (one collect; ~100k x 64 doubles = ~50 MB) — the bounded-sample
# training every production ANN index uses. Larger corpora take the
# distributed keyed-Lloyd path.
_PQ_LOCAL_MAX_ROWS = 100_000


def _collect_small_corpus(df: DataFrame, vec_col: str, id_col: str):
    """See :func:`..operators.util.collect_small_corpus` — gate at
    :data:`_PQ_LOCAL_MAX_ROWS`."""
    from .util import collect_small_corpus

    return collect_small_corpus(df, vec_col, id_col, _PQ_LOCAL_MAX_ROWS)


def _pq_index_local(
    df: DataFrame, vecs, m: int, k: int, n_iter: int, dim: int,
    vec_col: str, id_col: str,
):
    """Driver-local PQ train + encode for gate-sized corpora, replaying
    the distributed path's math bit-for-bit:

    - init: the k smallest ids' vectors, cluster ids 0..k-1 by id rank;
    - distance: left-to-right fold of (x - c)^2 in IEEE doubles —
      Python float arithmetic IS IEEE double, so the fold matches
      Spark's ``aggregate(zip_with(...))`` and DuckDB's ``list_reduce``
      exactly;
    - argmin: min over (dist, cluster) tuples — ties to the smaller
      cluster id, same as ``min(struct(_d, _cl))``;
    - means: each component quantized to DECIMAL(28,12) with HALF_UP
      (Python ``decimal.ROUND_HALF_UP`` rounds ties away from zero,
      matching Java's RoundingMode.HALF_UP used by Spark's
      ``cast(double as decimal)``), summed exactly, cast back to the
      nearest double, one IEEE division by the member count.

    Returns (cents, codes) as small local-relation DataFrames with the
    same schemas as the distributed path."""
    from .util import lloyd_local

    sub = dim // m
    slices = {
        s: [(i, v[s * sub:(s + 1) * sub]) for i, v in vecs] for s in range(m)
    }
    # cents[s] = list of (cl, centroid list); one Lloyd chain per subspace
    cents = {s: lloyd_local(slices[s], k, n_iter) for s in range(m)}

    from .util import _np_matrix, lloyd_assign_np

    cent_rows = [(s, cl, c) for s in range(m) for cl, c in cents[s]]
    code_rows = []
    for s in range(m):
        if not slices[s]:  # an empty corpus has no codes
            continue
        # vectorized dim-by-dim fold + first-min argmin: ties go to the
        # smaller cluster id (see util.lloyd_assign_np)
        order = [cl for cl, _ in cents[s]]
        rows = lloyd_assign_np(_np_matrix(slices[s]), [c for _, c in cents[s]])
        code_rows.extend((i, s, order[r]) for (i, _v), r in zip(slices[s], rows))
    sess = df.sparkSession
    cents_df = local_frame(sess, cent_rows, "_s int, _cl int, _c array<double>")
    id_type = dict(df.dtypes)[id_col]
    codes_df = local_frame(sess, code_rows, f"_id {id_type}, _s int, _code int")
    # Stash the Python-side index next to the frames so ADC search can
    # build its per-query distance-lookup table on the driver (the table
    # is n_queries*m*k rows — computed on the query host in any real ADC
    # serving stack); bounded by the row gate and the FIFO cache cap.
    cents_df._edp_py = {"vecs": vecs, "cents": cents, "id_type": id_type}
    return cents_df, codes_df


def pq_index(
    df: DataFrame,
    m: int = 4,
    k: int = 8,
    n_iter: int = 1,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Train (or fetch from the session cache) the PQ index, both frames
    keyed by the subspace id ``_s``:

    - codebooks ``(_s, _cl, _c array<double>)`` — k*m rows, broadcast-
      sized at any corpus scale;
    - codes ``(_id, _s, _code)`` — the index itself, m small ints per
      vector, what ADC search scans instead of raw vectors.

    Codes are assigned against the trained codebook with one broadcast
    join + ``min(struct(dist, cl))`` partial aggregation (ties to the
    smaller cluster id — the same rule as the Lloyd assignment, so the
    result is bit-identical to running
    :func:`..operators.cluster.kmeans` per subspace end-to-end, which
    the DuckDB oracles replay)."""
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:  # pragma: no cover - defensive; plain frames analyze fine
        files = ()
    sess = df.sparkSession
    key = (id(sess), files, m, k, n_iter, dim, vec_col, id_col)
    if files and key in _PQ_CACHE:
        return _PQ_CACHE[key][1]

    # Size-gated LOCAL training fast path (same pattern as the <=1M-edge
    # gate in operators/cluster.py): a PQ index is trained on a bounded
    # sample in every real deployment (FAISS trains on ~100k vectors and
    # serves billions), so for corpora under the gate the whole
    # train+encode runs on the driver in one corpus collect — a single
    # simple scan job instead of 3+ shuffle jobs whose codegen compile
    # dominates cold-start. The Python math is bit-identical to the
    # distributed path (IEEE doubles left-to-right, decimal HALF_UP
    # quantization replaying Spark's DECIMAL(28,12) cast) — the DuckDB
    # oracles gate that equality exactly. Above the gate, the
    # distributed Lloyd below runs unchanged.
    vecs = _collect_small_corpus(df, vec_col, id_col)
    if vecs is not None:
        out = _pq_index_local(df, vecs, m, k, n_iter, dim, vec_col, id_col)
        if files:
            while len(_PQ_CACHE) >= _PQ_CACHE_MAX:
                _PQ_CACHE.pop(next(iter(_PQ_CACHE)))
            _PQ_CACHE[key] = (sess, out)
        return out

    # All m subspaces train in ONE keyed Lloyd chain: explode each vector
    # into (_id, _s, _v[sub]) rows and carry the subspace id _s through
    # init / assign / update, instead of running m separate plans whose
    # eager checkpoints serialize (m=4 sequential chains cost ~10 s of
    # pure stage/codegen overhead on a 500-row corpus). The math per
    # subspace is identical to operators/cluster.kmeans — min-id init,
    # left-to-right squared-L2 fold, argmin ties to the smaller cluster
    # id (min over (dist, cl) structs), DECIMAL(28,12) component sums —
    # so the oracle replay of the per-subspace chains is bit-identical.
    sub = dim // m
    slices = F.array(*[
        F.struct(
            F.lit(s).alias("_s"),
            F.expr(
                f"transform(slice({vec_col}, {s * sub + 1}, {sub}), x -> double(x))"
            ).alias("_v"),
        )
        for s in range(m)
    ])
    vecs = df.select(
        F.col(id_col).alias("_id"), F.explode(slices).alias("_e")
    ).select("_id", F.col("_e._s").alias("_s"), F.col("_e._v").alias("_v"))

    d2 = F.expr(_SQ_L2.format(a="_v", b="_c"))

    # Centroid state lives on the DRIVER between iterations — it is
    # O(k*m) rows regardless of corpus size (the same economics as Spark
    # MLlib's KMeans, whose centers also round-trip through the driver
    # each iteration). Collecting them keeps every Lloyd job a SIMPLE
    # two-shuffle plan (broadcast literal centroids -> argmin -> means)
    # instead of one deep nested plan whose codegen compile dominated
    # cold-start (~5 s -> ~2 s on a fresh JVM). IEEE doubles round-trip
    # exactly through collect/local_frame, and every distance/mean is
    # still computed by the SAME Spark expressions (left-to-right
    # squared-L2 fold, min(struct(dist, cl)) ties-to-smaller-cluster,
    # DECIMAL(28,12) component sums), so the DuckDB oracle replay of the
    # per-subspace chains stays bit-identical.
    cent_schema = "_s int, _cl int, _c array<double>"

    def lit_cents(rows) -> DataFrame:
        return local_frame(sess, rows, cent_schema)

    # init: the k smallest ids' vectors, sliced per subspace on the
    # driver — k rows of dim doubles, identical to cluster._lloyd's
    # min-id init (cluster ids 0..k-1 by id rank).
    init_rows = (
        df.select(
            F.col(id_col).alias("_id"),
            F.expr(f"transform({vec_col}, x -> double(x))").alias("_v"),
        )
        .orderBy("_id")
        .limit(k)
        .collect()
    )
    cent_rows = [
        (s, cl, list(r["_v"][s * sub:(s + 1) * sub]))
        for s in range(m)
        for cl, r in enumerate(init_rows)
    ]

    for _ in range(n_iter):
        # one job per iteration: argmin assignment (map-side min(struct)
        # partial agg, no window) then per-(subspace, cluster, component)
        # decimal-exact means; k*m*sub rows come back to the driver.
        means = (
            vecs.join(F.broadcast(lit_cents(cent_rows)), "_s")
            .select(
                "_id", "_s", "_v",
                F.struct(d2.alias("_d"), F.col("_cl")).alias("_sc"),
            )
            .groupBy("_id", "_s", "_v")
            .agg(F.min("_sc").alias("_m"))
            .select("_s", F.col("_m._cl").alias("_cl"),
                    F.posexplode("_v").alias("_d", "_x"))
            .groupBy("_s", "_cl", "_d")
            .agg(
                (
                    F.sum(F.col("_x").cast("double").cast("decimal(28,12)"))
                    .cast("double")
                    / F.count(F.lit(1))
                ).alias("_m")
            )
            .collect()
        )
        by: dict = {}
        for r in means:
            by.setdefault((r["_s"], r["_cl"]), []).append((r["_d"], r["_m"]))
        cent_rows = [
            (s, cl, [x for _, x in sorted(comps)])
            for (s, cl), comps in sorted(by.items())
        ]

    cents = lit_cents(cent_rows)  # k*m rows, a local relation
    codes = (
        vecs.join(F.broadcast(cents), "_s")
        .select(
            "_id", "_s",
            F.struct(d2.alias("_d"), F.col("_cl")).alias("_sc"),
        )
        .groupBy("_id", "_s")
        .agg(F.min("_sc").alias("_m"))
        .select("_id", "_s", F.col("_m._cl").cast("int").alias("_code"))
        .localCheckpoint(eager=True)  # the PQ index: m small ints per vector
    )
    if files:
        while len(_PQ_CACHE) >= _PQ_CACHE_MAX:
            _PQ_CACHE.pop(next(iter(_PQ_CACHE)))
        _PQ_CACHE[key] = (sess, (cents, codes))
    return cents, codes


def pq_encode(
    df: DataFrame,
    m: int = 4,
    k: int = 8,
    n_iter: int = 1,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product quantization encode: split each vector into ``m``
    contiguous subvectors, train an independent deterministic k-means
    codebook per subspace (operators/cluster.kmeans — min-id init,
    decimal-exact means), and emit each vector's code word
    ``(code_0..code_{m-1})`` — the nearest centroid per subspace.

    PQ is the memory tier below int8 quantization: m=4, k=8 stores a
    64-float vector in 4 small ints (codebooks are k*dim floats total,
    broadcast-sized at any corpus scale). Training happens at most once
    per (session, source, params) via :func:`pq_index`; encode, ADC
    search and recall evaluation all reuse the same pinned index, the
    way a deployed index is trained once and served many times. The code
    word is laid out wide with one pivot over the subspace key (exactly
    one code per (vector, subspace), so ``first`` is deterministic) —
    one shuffle, not m self-joins.
    """
    _cents, codes = pq_index(df, m, k, n_iter, dim, vec_col, id_col)
    piv = codes.groupBy("_id").pivot("_s", list(range(m))).agg(F.first("_code"))
    return piv.select(
        F.col("_id").alias(id_col),
        *[F.col(str(s)).alias(f"code_{s}") for s in range(m)],
    )


def _adc_dtab(
    df: DataFrame,
    cents: DataFrame,
    n_queries: int,
    m: int,
    sub: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Per-query ADC distance-lookup table ``(query_id, _s, _code, _d)``
    — exact squared-L2 from each query subvector to every subspace
    centroid, (n_queries * k * m) rows, broadcast-sized at any corpus
    scale. Shared by :func:`pq_adc_topk` and :func:`ivf_pq_topk`; the
    local-index fast path builds it on the driver from the cached
    Python-side vectors/centroids with the same left-to-right IEEE
    fold, so both tiers stay bit-identical."""
    py = getattr(cents, "_edp_py", None)
    if py is not None:
        def _d2(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc = acc + (x - y) * (x - y)
            return acc

        dtab_rows = [
            (qid, s, cl, _d2(vec[s * sub:(s + 1) * sub], c))
            for qid, vec in py["vecs"]
            if qid < n_queries
            for s in range(m)
            for cl, c in py["cents"][s]
        ]
        return local_frame(
            df.sparkSession,
            dtab_rows,
            f"query_id {py['id_type']}, _s int, _code int, _d double",
        )
    # query-side: the same (query_id, _s, qv) explode as the index build
    qslices = F.array(*[
        F.struct(
            F.lit(s).alias("_s"),
            F.expr(
                f"transform(slice({vec_col}, {s * sub + 1}, {sub}), x -> double(x))"
            ).alias("_qv"),
        )
        for s in range(m)
    ])
    qs = (
        df.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("query_id"), F.explode(qslices).alias("_e"))
        .select("query_id", F.col("_e._s").alias("_s"), F.col("_e._qv").alias("_qv"))
    )
    d2 = F.expr(_SQ_L2.format(a="_qv", b="_c"))
    return qs.join(F.broadcast(cents), "_s").select(
        "query_id", "_s", F.col("_cl").cast("int").alias("_code"), d2.alias("_d")
    )


def pq_adc_topk(
    df: DataFrame,
    n_queries: int = 5,
    topk: int = 5,
    m: int = 4,
    k: int = 8,
    n_iter: int = 1,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes.

    The search tier on top of :func:`pq_encode`: instead of scanning raw
    vectors, each query precomputes an m x k distance-lookup table
    (exact squared-L2 from its subvector to every subspace centroid),
    and a candidate's approximate distance is the SUM of m table
    lookups keyed by its code word. The corpus-side scan touches only
    the code columns (m small ints per vector); the lookup table is
    (n_queries * k * m) rows — one broadcast join at any corpus scale.
    Codebooks and codes come from the shared trained index
    (:func:`pq_index` — train once, search many); the per-subspace
    partial distances are laid out wide with one pivot on the subspace
    key and summed left-to-right (((d0+d1)+d2)+d3) so the DuckDB replay
    is bit-identical.
    """
    import functools
    import operator as _op

    sub = dim // m
    cents, codes = pq_index(df, m, k, n_iter, dim, vec_col, id_col)

    dtab = _adc_dtab(df, cents, n_queries, m, sub, vec_col, id_col)
    part = codes.join(F.broadcast(dtab), ["_s", "_code"]).select(
        "_id", "query_id", "_s", "_d"
    )
    # exactly one row per (_id, query_id, _s) — first() is deterministic
    piv = part.groupBy("_id", "query_id").pivot("_s", list(range(m))).agg(
        F.first("_d")
    )
    adc = functools.reduce(_op.add, [F.col(str(s)) for s in range(m)])
    scored = piv.filter(F.col("_id") != F.col("query_id")).select(
        "query_id", F.col("_id").alias("neighbor_id"), adc.alias("adc_dist")
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    n_queries: int = 5,
    topk: int = 5,
    m: int = 4,
    k: int = 8,
    n_iter: int = 1,
    dim: int = 64,
    cell_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 1,
) -> DataFrame:
    """Composed IVF-PQ ANN — the production serving shape at crawl
    scale: a coarse quantizer routes each query to its ``nprobe`` best
    IVF cells (max cosine to the cell's deterministic medoid, ties ->
    smaller cell id, exactly :func:`ivf_topk`'s probe; ``nprobe`` is
    the production recall knob — more probed cells raise candidate
    recall at linear extra scan cost), then an asymmetric-distance scan
    over the PQ CODES of the probed cells only ranks candidates
    (exactly :func:`pq_adc_topk`'s table-lookup sum, via the shared
    trained index).

    Scale shape: the cell probe is two broadcast joins over O(#cells)
    rows; the candidate scan is pruned to the probed cell BEFORE any
    distance work (codes join cell labels join broadcast best-cell), so
    the per-query cost is |cell| * m small-int lookups — never a full-
    corpus scan of raw vectors. Both halves reuse oracle-gated parts:
    adc_dist per pair is bit-identical to pq_adc_topk's, the probe is
    bit-identical to ivf_topk's, so the DuckDB replay composes the two
    proven CTE chains.

    Returns (query_id, cell, neighbor_id, rank, adc_dist). Approximate
    on two axes (cell recall x code quantization); recall@k against the
    exact brute-force cosine top-k is pinned in pytest.
    """
    import functools
    import operator as _op

    sub = dim // m
    cents_pq, codes = pq_index(corpus, m, k, n_iter, dim, vec_col, id_col)
    dtab = _adc_dtab(corpus, cents_pq, n_queries, m, sub, vec_col, id_col)

    # coarse probe: identical routing to ivf_topk (cosine to medoid,
    # ties -> smaller cell id)
    cells = ivf_centroids(corpus, cell_col, vec_col, id_col)
    q = corpus.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    routed = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cells))
        .select("query_id", "cell", cosine("_qv", "centroid").alias("_ccos"))
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("_ccos"), F.asc("cell"))
    best = (
        routed.withColumn("_rn", F.row_number().over(wr))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "cell")
    )

    # in-cell ADC: prune codes to the probed cell BEFORE the lookup join
    lbl = spread(corpus).select(
        F.col(id_col).alias("_id"), F.col(cell_col).alias("cell")
    )
    cand = codes.join(lbl, "_id").join(F.broadcast(best), "cell")
    part = cand.join(F.broadcast(dtab), ["query_id", "_s", "_code"]).select(
        "_id", "query_id", "cell", "_s", "_d"
    )
    # exactly one row per (_id, query_id, _s) — first() is deterministic
    piv = part.groupBy("_id", "query_id", "cell").pivot(
        "_s", list(range(m))
    ).agg(F.first("_d"))
    adc = functools.reduce(_op.add, [F.col(str(s)) for s in range(m)])
    scored = piv.filter(F.col("_id") != F.col("query_id")).select(
        "query_id", "cell", F.col("_id").alias("neighbor_id"),
        adc.alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= topk)
        .select("query_id", "cell", "neighbor_id", "rank", "adc_dist")
    )
