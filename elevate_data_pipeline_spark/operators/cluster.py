"""Connected components over near-duplicate pair graphs.

Near-dup detection (minhash/simhash/cosine — see :mod:`.dedup`) emits
PAIRS; deduplication needs CLUSTERS: the transitive closure of the pair
graph, so "A~B, B~C" keeps one of {A,B,C}, not two. The reference has no
graph operators at all (SURVEY.md §2 — pure batch relational), so this
is north-star scope, built as the alternating large-star / small-star
edge contraction of Kiveris et al., "Connected Components in MapReduce
and Beyond" (SoCC'14):

- **large-star**: every node connects its strictly-larger neighbors to
  its minimum neighbor (or itself if smaller);
- **small-star**: every node connects its smaller-or-equal neighbors to
  the minimum of them.

Each step is a ``groupBy(node).min`` plus a re-join — pure shuffles, no
driver-side graph state — and the alternation converges in O(log² n)
rounds to one star per component rooted at the component's minimum id.
That round bound (versus O(diameter) for naive label propagation) is
what makes it safe on adversarial chain-shaped dup graphs at 100 TB.
Per-round ``localCheckpoint`` truncates the otherwise exponentially
growing lineage; on a real cluster use ``spark.sparkContext.
setCheckpointDir`` + ``.checkpoint()`` instead so recomputation survives
executor loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.local import local_frame


def _large_star(e: DataFrame) -> DataFrame:
    # symmetrize: row (u, v) = "v is a neighbor of u"
    nbr = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = nbr.groupBy("u").agg(F.min("v").alias("_m")).select(
        "u", F.least(F.col("_m"), F.col("u")).alias("_m")
    )
    return (
        nbr.join(m, "u")
        .filter(F.col("v") > F.col("u"))  # strictly-larger neighbors only
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    # key every edge by its LARGER endpoint; neighbors are all smaller
    nbr = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    m = nbr.groupBy("u").agg(F.min("v").alias("_m"))
    return (
        nbr.join(m, "u")
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
        .union(m.select(F.col("u"), F.col("_m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _local_components(e: DataFrame) -> DataFrame:
    """Driver-side union-find over a small (pre-counted) edge list.

    Same output contract as the distributed path: (id, component) for
    non-root nodes, component = min id. One collect instead of
    O(log² n) shuffle rounds — the fast path when near-dup pair graphs
    are tiny relative to the corpus (the normal case: pairs ∝ dups).
    """
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in e.collect():
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    rows = [(n, find(n)) for n in list(parent)]
    out = [(n, c) for n, c in rows if n != c]
    from pyspark.sql.types import StructField, StructType

    utype = e.schema["u"].dataType
    schema = StructType(
        [StructField("id", utype, False), StructField("component", utype, False)]
    )
    return local_frame(e.sparkSession, out, schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """Resolve an undirected edge list to ``(id, component)`` labels.

    ``component`` is the minimum node id in the node's component. Only
    non-root nodes appear (a root's label is itself); isolated nodes
    never appear — use :func:`label_components` to label a full node
    set. Convergence is detected by an (edge-count, xxhash64-sum)
    checksum going stable across a round — one tiny two-value action per
    round, no edge-set comparison shuffle.

    Edge lists at or under ``local_threshold`` edges (counted once off
    the persisted dedup) solve driver-side via union-find — one job
    instead of O(log² n) rounds; larger graphs run the distributed star
    contraction. Set ``local_threshold=0`` to force the distributed
    path.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    try:
        if local_threshold and e.count() <= local_threshold:
            return _local_components(e)
        return _distributed_components(e, max_iter)
    finally:
        e.unpersist()


def _distributed_components(e: DataFrame, max_iter: int) -> DataFrame:
    prev: tuple | None = None
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        cur = (row["n"], row["h"])
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # at fixpoint every non-root has exactly one parent: the component min
    return e.groupBy("u").agg(F.min("v").alias("component")).select(
        F.col("u").alias("id"), "component"
    )


def label_components(
    nodes: DataFrame,
    id_col: str,
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """Label EVERY node in ``nodes`` with its component (roots and
    isolated nodes label themselves). The component map is tiny relative
    to the corpus (only nodes with a dup pair), so the join broadcasts
    under AQE at scale."""
    cc = connected_components(
        edges, src=src, dst=dst, max_iter=max_iter, local_threshold=local_threshold
    ).select(
        F.col("id").alias("_cc_id"), F.col("component").alias("_cc_comp")
    )
    return (
        nodes.join(cc, nodes[id_col] == cc["_cc_id"], "left")
        .select(
            nodes["*"],
            F.coalesce(F.col("_cc_comp"), F.col(id_col)).alias("component"),
        )
    )


def label_components_with_size(
    nodes: DataFrame,
    id_col: str,
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """:func:`label_components` plus an exact ``cluster_size`` column —
    WITHOUT the full-corpus ``count() OVER (PARTITION BY component)``
    window, which shuffles every row by component. Sizes come from the
    cc map alone: a component's size is its non-root count + 1 (the
    root), and nodes absent from the map are singletons. Both joins are
    against map-sized frames (dup nodes only), so at 100 TB this is two
    broadcastable joins instead of a full-data exchange. The cc map is
    localCheckpointed: it feeds two subtrees (label join + size agg) and
    must not recompute differently between them."""
    cc = connected_components(
        edges, src=src, dst=dst, max_iter=max_iter, local_threshold=local_threshold
    ).select(
        F.col("id").alias("_cc_id"), F.col("component").alias("_cc_comp")
    ).localCheckpoint(eager=True)
    sizes = cc.groupBy(F.col("_cc_comp").alias("_sz_comp")).agg(
        (F.count(F.lit(1)) + F.lit(1)).alias("_sz")
    )
    labeled = nodes.join(cc, nodes[id_col] == cc["_cc_id"], "left").select(
        nodes["*"],
        F.coalesce(F.col("_cc_comp"), F.col(id_col)).alias("component"),
    )
    return (
        labeled.join(sizes, labeled["component"] == sizes["_sz_comp"], "left")
        .withColumn("cluster_size", F.coalesce(F.col("_sz"), F.lit(1)))
        .drop("_sz_comp", "_sz")
    )


# Corpora at or below this row count train centroids on the driver (one
# pyarrow/collect read); larger corpora take the fully-declarative
# distributed chain. Set at the measured warm crossover
# (docs/LOCAL_TIERS.md table: local 2.9 s vs distributed 3.3 s at 5k
# vectors, 1.2x slower at 10k, 3x at 50k) — the per-iteration
# numpy assignment is single-threaded while the distributed chain
# spreads across cores.
_LLOYD_LOCAL_MAX_ROWS = 8_000


def kmeans(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Lloyd's k-means over an embedding column, fully declarative.

    The whole algorithm is ONE Catalyst plan — no driver-side centroid
    state, no ``.collect()`` between rounds:

    - **init**: centroids are the vectors of the ``k`` smallest ids
      (deterministic, no RNG — reproducible across engines and runs);
    - **assign**: squared-L2 to every centroid via a left-to-right
      ``zip_with`` fold (the same deterministic fold all cosine ops
      use), argmin with ties to the smaller cluster id; the k-row
      centroid frame is broadcast, so assignment is a map-only stage;
    - **update**: per (cluster, dim) component means — float components
      are widened to double (exact) and summed as DECIMAL(28,12), so
      the sum is order-independent and bit-reproducible regardless of
      partitioning; the mean is one IEEE double division; the centroid
      array is rebuilt with ``array_sort(collect_list(struct(dim, _)))``
      so component order is explicit, not aggregation-order luck.

    ``n_iter`` update rounds then a final assignment. Each round adds
    one small shuffle (k*dim rows) — at 100 TB the per-round cost is
    the broadcast-assign scan, and lineage stays linear in ``n_iter``
    (checkpoint per round if you push it to tens of iterations).
    Clusters that lose all members simply drop out (documented; the
    deterministic init makes this identical across engines).

    Returns (id, cluster, dist2) for the final assignment.
    """
    cents, assign = _lloyd(df, k, n_iter, vec_col, id_col)
    return assign(cents).select(
        F.col("_id").alias(id_col),
        F.col("_cl").cast("int").alias("cluster"),
        "dist2",
    )


def kmeans_centroids(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The trained codebook of :func:`kmeans`: the centroid frame after
    ``n_iter`` update rounds — exactly the centroids the final
    assignment scores against (same deterministic loop), so codes from
    :func:`kmeans` and lookups against this frame always agree. Returns
    (cluster int, centroid array<double>), k rows — broadcast-sized for
    any corpus."""
    cents, _assign = _lloyd(df, k, n_iter, vec_col, id_col)
    return cents.select(
        F.col("_cl").cast("int").alias("cluster"), F.col("_c").alias("centroid")
    )


def _lloyd(
    df: DataFrame, k: int, n_iter: int, vec_col: str, id_col: str
):
    """Shared Lloyd loop: returns (final centroid frame, assign fn).

    Size-gated local fast path (same pattern as the <=1M-edge gate in
    :func:`connected_components` and the PQ trainer): k-means CENTROIDS
    are trained on a bounded sample in every production system (MLlib
    itself round-trips centers through the driver each iteration), so
    for corpora under :data:`_LLOYD_LOCAL_MAX_ROWS` the ``n_iter``
    update rounds run driver-side on a single pyarrow/collect read —
    bit-identical math (``util.lloyd_local``) — and only the FINAL
    assignment runs as a Spark job against the broadcast literal
    centroids. That keeps a cold session's cost to ONE simple job
    instead of a deep ``n_iter``-round chained plan whose codegen
    compile dominates gate-scale latency. The assignment (corpus-sized)
    is distributed in both tiers; above the gate the fully-declarative
    chain below runs unchanged."""
    from .util import collect_small_corpus, lloyd_local, spread

    vecs = spread(df).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    )

    def assign(cents: DataFrame) -> DataFrame:
        d2 = F.expr(
            "aggregate(zip_with(_v, _c, (x, y) -> "
            "(double(x) - double(y)) * (double(x) - double(y))), "
            "double(0), (acc, t) -> acc + t)"
        )
        # argmin via min(struct(dist2, _cl)) — identical tie rule to the
        # former row_number-over-(dist2, _cl) window (lexicographic min,
        # ties to the smaller cluster id; dist2 is never NaN), but the
        # partial aggregation collapses the k-fold scored rows map-side:
        # the exchange carries one row per vector, not k
        scored = vecs.join(F.broadcast(cents), how="cross").select(
            "_id", "_v", F.struct(d2.alias("dist2"), F.col("_cl")).alias("_sc")
        )
        return (
            scored.groupBy("_id", "_v")
            .agg(F.min("_sc").alias("_m"))
            .select("_id", "_v", F.col("_m._cl").alias("_cl"), F.col("_m.dist2").alias("dist2"))
        )

    def update(assigned: DataFrame) -> DataFrame:
        comp = assigned.select(
            "_cl", F.posexplode("_v").alias("_d", "_x")
        )
        means = comp.groupBy("_cl", "_d").agg(
            (
                F.sum(F.col("_x").cast("double").cast("decimal(28,12)"))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("_m")
        )
        return means.groupBy("_cl").agg(
            F.expr("transform(array_sort(collect_list(struct(_d, _m))), s -> s._m)")
            .alias("_c")
        )

    local = collect_small_corpus(df, vec_col, id_col, _LLOYD_LOCAL_MAX_ROWS)
    if local is not None:
        cent_rows = lloyd_local(local, k, n_iter)
        cents = local_frame(
            df.sparkSession, cent_rows, "_cl int, _c array<double>"
        )
        return cents, assign

    # deterministic cluster ids: rank init centroids by source id
    w0 = Window.orderBy("_id")
    cents = (
        vecs.orderBy("_id")
        .limit(k)
        .withColumn("_cl", F.row_number().over(w0).cast("int") - 1)
        .select("_cl", F.expr("transform(_v, x -> double(x))").alias("_c"))
    )

    for _ in range(n_iter):
        cents = update(assign(cents))
    return cents, assign
