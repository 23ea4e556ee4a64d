"""Approximate / sketch aggregations for the 100 TB tier.

Exact distinct counts and percentiles shuffle every distinct value;
at crawl scale the sketch versions bound memory and shuffle volume by
the sketch size instead (HyperLogLog++ registers, quantile summaries,
frequent-item maps), at a documented accuracy cost. The reference has
no approximate operators (SURVEY.md §2.4 — its five aggregates are all
exact); this module is north-star scope.

These wrap Spark's JVM-side sketch aggregates (no Python in the hot
path). They are NOT registered as oracle queries: the sketches are
engine-specific (Spark's HLL++ vs DuckDB's), so cross-engine hashes
can't match — correctness is asserted as relative-error bounds against
the exact answers in tests/test_operators.py instead. The exact heavy-
hitters query (queries_llm.events_heavy_hitters) carries the oracle for
this family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def approx_distinct(
    df: DataFrame, cols: list[str], group_by: list[str] | None = None, rsd: float = 0.02
) -> DataFrame:
    """HyperLogLog++ distinct count per column (optionally per group).

    ``rsd`` is the target relative standard deviation (2% default ≈ the
    1.5 KB register set); memory per aggregate is O(1/rsd²), independent
    of cardinality — the reason this replaces countDistinct at scale.
    Output columns are ``<col>_approx_distinct``.
    """
    aggs = [
        F.approx_count_distinct(c, rsd=rsd).alias(f"{c}_approx_distinct") for c in cols
    ]
    return df.groupBy(*group_by).agg(*aggs) if group_by else df.agg(*aggs)


def approx_quantiles(
    df: DataFrame,
    col: str,
    probabilities: list[float],
    group_by: list[str] | None = None,
    accuracy: int = 10_000,
) -> DataFrame:
    """Greenwald-Khanna approximate percentiles (error <= 1/accuracy of
    rank). One ``qs`` array column holding the requested quantiles in
    order; the exact twin is ``percentile`` (events_value_percentiles).
    """
    probs = ", ".join(repr(float(p)) for p in probabilities)
    agg = F.expr(f"approx_percentile({col}, array({probs}), {accuracy})").alias("qs")
    return df.groupBy(*group_by).agg(agg) if group_by else df.agg(agg)


# ---------------------------------------------------------------------------
# Portable HyperLogLog: unlike approx_distinct above (Spark's HLL++, whose
# registers no other engine can reproduce), this builds the registers from an
# ENGINE-PORTABLE integer-only hash (two Knuth/xxhash-prime multiply rounds
# with xor folds, every intermediate < 2^48 so int64 never overflows) and an
# integer-only leading-zero rank (a CASE chain — Spark's log2 is
# Math.log(x)/Math.log(2) and is NOT guaranteed to floor identically to
# DuckDB's std::log2 at integer boundaries). Register maxima, the scaled
# harmonic sum, and the zero-register count are all exact integers, and the
# final estimate is one IEEE double division + floor — bit-identical on any
# IEEE-754 engine — so a DuckDB oracle can gate the sketch EXACTLY.
# (Flajolet et al. 2007 raw estimator; the small-range linear-counting
# correction m*ln(m/V) is applied through a baked m-entry integer table —
# V has only m possible values — because ln() is not cross-engine exact.)
# ---------------------------------------------------------------------------

_HLL_RING = 4_294_967_296  # 2^32
_HLL_HALF = 65_536  # 2^16
_HLL_K1 = 2_654_435_761  # Knuth multiplicative (2^32 / phi)
_HLL_K2 = 2_246_822_519  # xxhash32 PRIME2


def _hll_alpha_const(p: int) -> float:
    """``alpha_m * m^2 * 2^33`` — the numerator of the raw estimate over
    the 2^33-scaled harmonic sum. Emitted as a repr() literal in both
    engines so each parses the identical double."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m * float(1 << 33)


def hll_hash_sql(key: str) -> str:
    """The portable 32-bit hash as engine-neutral SQL text (works in
    Spark SQL and DuckDB: only ``%``, ``//``/``div``-free integer ``*``,
    ``+`` and ``xor``). Kept textually tiny by nesting; the Spark Column
    twin is :func:`_hll_hash_col` — property tests pin them equal."""

    def splitmul(v: str, k: int) -> str:
        return (
            f"((((({v}) // {_HLL_HALF}) * {k}) % {_HLL_HALF}) * {_HLL_HALF}"
            f" + (({v}) % {_HLL_HALF}) * {k}) % {_HLL_RING}"
        )

    id32 = f"(({key}) % {_HLL_RING} + {_HLL_RING}) % {_HLL_RING}"
    r1 = f"({splitmul(id32, _HLL_K1)})"
    x1 = f"xor({r1}, {r1} // {_HLL_HALF})"
    r2 = f"({splitmul(f'({x1})', _HLL_K2)})"
    return f"xor({r2}, {r2} // 8192)"


def _hll_hash_col(key: Column) -> Column:
    """Spark Column twin of :func:`hll_hash_sql` (same constants, same
    operation order; ``div``/``pmod`` keep everything on int64)."""

    def splitmul(v: Column, k: int) -> Column:
        hi = F.floor(v / _HLL_HALF).cast("long")
        return (hi * k % _HLL_HALF * _HLL_HALF + v % _HLL_HALF * k) % _HLL_RING

    id32 = F.pmod(key.cast("long"), F.lit(_HLL_RING))
    r1 = splitmul(id32, _HLL_K1)
    x1 = r1.bitwiseXOR(F.floor(r1 / _HLL_HALF).cast("long"))
    r2 = splitmul(x1, _HLL_K2)
    return r2.bitwiseXOR(F.floor(r2 / 8192).cast("long"))


def _hll_hash_np(key):
    """numpy twin of :func:`_hll_hash_col` over an int64 array (same
    constants, same operation order; every intermediate is below 2^49,
    so int64 is exact)."""
    import numpy as np

    def splitmul(v, k: int):
        return (v // _HLL_HALF * k % _HLL_HALF * _HLL_HALF + v % _HLL_HALF * k) % _HLL_RING

    id32 = np.mod(np.asarray(key, dtype=np.int64), _HLL_RING)
    r1 = splitmul(id32, _HLL_K1)
    x1 = r1 ^ (r1 // _HLL_HALF)
    r2 = splitmul(x1, _HLL_K2)
    return r2 ^ (r2 // 8192)


def _hll_rho_col(w: Column, wbits: int) -> Column:
    """Leading-zero rank of the ``wbits``-bit suffix, integer-only:
    rho = 1 for the top bit set ... wbits for w == 1, wbits+1 for w == 0."""
    expr = F.when(w == 0, F.lit(wbits + 1))
    for rho in range(1, wbits + 1):
        expr = expr.when(w >= (1 << (wbits - rho)), F.lit(rho))
    return expr


def hll_rho_sql(w: str, wbits: int) -> str:
    branches = "".join(
        f" WHEN ({w}) >= {1 << (wbits - rho)} THEN {rho}"
        for rho in range(1, wbits + 1)
    )
    return f"CASE WHEN ({w}) = 0 THEN {wbits + 1}{branches} END"


def _hll_lc_table(p: int) -> list[int]:
    """``floor(m * ln(m / V))`` for V = 1..m, precomputed in Python —
    the linear-counting estimate as a pure integer lookup. V has only m
    possible values, so baking the table makes the small-range branch
    cross-engine exact with ZERO libm in either engine (ln is not
    IEEE-guaranteed identical across Spark's Math.log and DuckDB's
    std::log; this is the same move as the IMA ADPCM step table)."""
    import math

    m = 1 << p
    return [int(math.floor(m * math.log(m / v))) for v in range(1, m + 1)]


def portable_hll_distinct(
    df: DataFrame,
    key_col: str,
    group_by: list[str] | None = None,
    p: int = 9,
) -> DataFrame:
    """Cross-engine-exact HyperLogLog distinct count of ``key_col``
    (optionally per group). Returns one row per group with

    - ``hll_est``       — the full estimator with the standard
                          small-range correction: linear counting
                          ``floor(m*ln(m/V))`` (via the baked integer
                          table — no ln in either engine) when the raw
                          estimate <= 2.5m and V > 0, else the raw
                          estimate;
    - ``hll_raw``       — floor(alpha_m * m^2 / sum_j 2^-M_j), the raw
                          Flajolet estimator as BIGINT;
    - ``hll_zero_regs`` — V, the zero-register count;
    - ``hll_harmonic``  — the 2^33-scaled harmonic sum (exact integer;
                          registers of two partial sketches merge by
                          MAX, so this column is re-derivable after a
                          merge — mergeability is what makes HLL the
                          100 TB replacement for countDistinct: the
                          shuffle carries m small ints per group, not
                          every distinct key).
    """
    group_by = group_by or []
    m = 1 << p
    wbits = 32 - p
    h = _hll_hash_col(F.col(key_col))
    bucket = F.floor(h / (1 << wbits)).cast("long").alias("_bkt")
    rho = _hll_rho_col(h % (1 << wbits), wbits).alias("_rho")
    regs = (
        df.select(*group_by, bucket, rho)
        .groupBy(*group_by, "_bkt")
        .agg(F.max("_rho").alias("_M"))
    )
    per_group = regs.groupBy(*group_by).agg(
        F.count(F.lit(1)).alias("_present"),
        F.sum(F.expr("shiftleft(1L, 33 - _M)")).alias("_sumpow"),
    )
    harmonic = F.col("_sumpow") + (F.lit(m) - F.col("_present")) * (1 << 33)
    v = (F.lit(m) - F.col("_present")).cast("long")
    raw = F.floor(F.lit(_hll_alpha_const(p)) / harmonic.cast("double")).cast("long")
    lc_arr = F.array(*[F.lit(x).cast("long") for x in _hll_lc_table(p)])
    best = F.when(
        (raw <= int(2.5 * m)) & (v > 0), F.element_at(lc_arr, v.cast("int"))
    ).otherwise(raw)
    return per_group.select(
        *group_by,
        v.alias("hll_zero_regs"),
        harmonic.cast("long").alias("hll_harmonic"),
        raw.alias("hll_raw"),
        best.alias("hll_est"),
    )


def portable_hll_sql(
    table: str, key: str, group_by: list[str] | None = None, p: int = 9
) -> str:
    """The ANSI-SQL twin of :func:`portable_hll_distinct` (DuckDB
    dialect: ``//`` integer division, ``xor()``, ``<<``)."""
    group_by = group_by or []
    m = 1 << p
    wbits = 32 - p
    gcols = ", ".join(group_by)
    gsel = f"{gcols}, " if group_by else ""
    gby = f"GROUP BY {gcols}" if group_by else ""
    return f"""
    WITH h0 AS (
      SELECT {gsel}({hll_hash_sql(key)}) AS h FROM {table}
    ), hashed AS (
      SELECT {gsel}h // {1 << wbits} AS bkt,
             {hll_rho_sql(f'h % {1 << wbits}', wbits)} AS rho
      FROM h0
    ), regs AS (
      SELECT {gsel}bkt, max(rho) AS M FROM hashed GROUP BY {gsel}bkt
    ), per_group AS (
      SELECT {gsel}count(*) AS present,
             sum((1::BIGINT << (33 - M))) AS sumpow
      FROM regs {gby}
    ), est AS (
      SELECT {gsel}CAST({m} - present AS BIGINT) AS hll_zero_regs,
             CAST(sumpow + ({m} - present) * (1::BIGINT << 33) AS BIGINT)
               AS hll_harmonic,
             CAST(floor({_hll_alpha_const(p)!r}
                  / CAST(sumpow + ({m} - present) * (1::BIGINT << 33) AS DOUBLE))
               AS BIGINT) AS hll_raw
      FROM per_group
    )
    SELECT {gsel}hll_zero_regs, hll_harmonic, hll_raw,
           CAST(CASE WHEN hll_raw <= {int(2.5 * m)} AND hll_zero_regs > 0
                THEN ([{", ".join(str(x) for x in _hll_lc_table(p))}])
                     [hll_zero_regs]
                ELSE hll_raw END AS BIGINT) AS hll_est
    FROM est
    """


# ---------------------------------------------------------------------------
# KMV / theta sketch (Bar-Yossef et al. 2002, Beyer et al. 2007): keep the
# k smallest distinct PORTABLE hash values per group. Everything the sketch
# emits — the kept hashes, the k-th minimum (theta), the unbiased estimate
# (k-1)*2^32 div theta — is an exact integer, so the DuckDB oracle gates it
# bit-for-bit. The capability HLL lacks: kept-hash sets support SET ALGEBRA
# (union by re-ranking the merged sets, intersection by the union-sample
# estimator), which is how a 100 TB catalog answers "how much do these two
# corpora overlap" from two 1 KB sketches instead of a distinct-join.
# 32-bit hashes keep the build oracle-portable; a production build widens
# to 64-bit to push the birthday bound past crawl-scale cardinalities.
# ---------------------------------------------------------------------------


def kmv_kept(
    df: DataFrame, key_col: str, group_by: str, k: int = 128
) -> DataFrame:
    """The sketch itself: per group, the k smallest distinct portable
    hashes of ``key_col`` with their rank. Ranking goes through the
    scale-safe grouped rank (range repartition + broadcast offsets), so
    one huge group never funnels through a single window task."""
    from .rank import grouped_row_number

    hashed = df.select(
        F.col(group_by).alias("_grp"), _hll_hash_col(F.col(key_col)).alias("_h")
    ).distinct()
    ranked = grouped_row_number(hashed, "_grp", ["_h"], out_col="_rn")
    return ranked.filter(F.col("_rn") <= k)


def kmv_distinct(
    df: DataFrame, key_col: str, group_by: str, k: int = 128
) -> DataFrame:
    """KMV distinct-count estimate per group: exact count when the whole
    hash set fits in the sketch (n < k), else the unbiased estimator
    (k-1) * 2^32 div theta — pure integer division, no libm anywhere.
    Returns (group, kmv_theta, kmv_kept_n, kmv_est)."""
    kept = kmv_kept(df, key_col, group_by, k)
    agg = kept.groupBy("_grp").agg(
        F.count(F.lit(1)).alias("_n"), F.max("_h").alias("_theta")
    )
    est = F.when(F.col("_n") < k, F.col("_n")).otherwise(
        F.expr(f"{(k - 1) * _HLL_RING}L div _theta")
    )
    return agg.select(
        F.col("_grp").alias(group_by),
        F.col("_theta").cast("long").alias("kmv_theta"),
        F.col("_n").cast("long").alias("kmv_kept_n"),
        est.cast("long").alias("kmv_est"),
    )


def kmv_sql(table: str, key: str, group_by: str, k: int = 128) -> str:
    """ANSI-SQL twin of :func:`kmv_kept` (DuckDB dialect) as a CTE body:
    SELECT grp, h, rn of the kept hashes."""
    return f"""
      SELECT {group_by} AS _grp, h AS _h,
             row_number() OVER (PARTITION BY {group_by} ORDER BY h) AS _rn
      FROM (SELECT DISTINCT {group_by}, ({hll_hash_sql(key)}) AS h
            FROM {table})
      QUALIFY _rn <= {k}
    """


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005): d rows of w counters;
# row r buckets a key by the portable hash of xor(key, salt_r). Point
# estimate = min over rows of the probed counters — always >= the true
# count, within eps*N with probability 1-delta for w = e/eps, d = ln(1/delta).
# Counters are plain integer sums, the row hashes are the same portable
# integer pipeline as the HLL/KMV sketches, so the DuckDB oracle replays
# the ENTIRE sketch (every counter and every probe) bit-for-bit.
# ---------------------------------------------------------------------------

# public xxhash/murmur-style odd constants; any fixed distinct salts work,
# they only need to decorrelate the d row hashes
CMS_SALTS = (0, 2_654_435_761, 2_246_822_519, 3_266_489_917)


def cms_build(
    df: DataFrame, key_col: str, width: int = 1024, depth: int = 4
) -> DataFrame:
    """Build the sketch: one row per non-empty (row, bucket) counter —
    at most width*depth rows regardless of key cardinality (the reason
    CMS replaces exact per-key counts when even #distinct explodes at
    100 TB; sketches merge by adding counters). Returns (_r, _c, _n)."""
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("_r"),
                    (
                        _hll_hash_col(
                            F.col(key_col)
                            .cast("long")
                            .bitwiseXOR(F.lit(CMS_SALTS[r]))
                        )
                        % width
                    ).alias("_c"),
                )
                for r in range(depth)
            ]
        )
    ).alias("_rc")
    return (
        df.select(rows)
        .select("_rc._r", "_rc._c")
        .groupBy("_r", "_c")
        .agg(F.count(F.lit(1)).alias("_n"))
    )


def cms_probe(
    sketch_df: DataFrame,
    probes: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Point-query the sketch for every key in ``probes``: est = min over
    rows of the probed counter. 0-counter buckets never materialize in
    ``sketch_df``, so the probe LEFT-joins and coalesces absent counters
    to 0 — a key that was never counted gets its true CMS estimate (0
    unless all d buckets collide) instead of silently vanishing from the
    output. Adds ``cms_est``."""
    probe_rc = probes.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("_r"),
                        (
                            _hll_hash_col(
                                F.col(key_col)
                                .cast("long")
                                .bitwiseXOR(F.lit(CMS_SALTS[r]))
                            )
                            % width
                        ).alias("_c"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("_rc"),
    ).select(key_col, "_rc._r", "_rc._c")
    return (
        probe_rc.join(F.broadcast(sketch_df), ["_r", "_c"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("_n", F.lit(0))).cast("long").alias("cms_est"))
    )


def cms_hash_sql(key: str, r: int, width: int) -> str:
    """SQL twin of one CMS row hash (DuckDB dialect)."""
    return f"({hll_hash_sql(f'xor({key}, {CMS_SALTS[r]})')}) % {width}"


def cms_inner_product(
    a: DataFrame, b: DataFrame, depth: int = 4
) -> DataFrame:
    """Join-size estimation from two CMS sketches (Cormode &
    Muthukrishnan §4.2): |A join B| on the sketched key equals
    sum_k fA(k)*fB(k), and each CMS row's counter dot-product
    overestimates that sum (colliding keys only add cross terms), so the
    MIN over rows is the estimate — never an undercount. This is the
    optimizer statistic that picks broadcast vs shuffle at 100 TB
    without touching either table: two 4 KB sketches replace a key-join
    dry run. One row out: ``est_join_rows`` (BIGINT, exact integer
    arithmetic end to end).


    Rows whose counters share no bucket contribute dot = 0; such a row
    proves the true join is empty (a common key collides in EVERY row),
    so the estimate is 0 whenever any of the ``depth`` rows is missing
    from the bucket join."""
    dot = (
        a.join(b.withColumnRenamed("_n", "_nb"), ["_r", "_c"])
        .groupBy("_r")
        .agg(F.sum(F.col("_n") * F.col("_nb")).alias("_dot"))
    )
    return dot.agg(
        F.when(F.count(F.lit(1)) < depth, F.lit(0))
        .otherwise(F.min("_dot"))
        .cast("long")
        .alias("est_join_rows")
    )


# ---------------------------------------------------------------------------
# Bloom filter (Bloom 1970) on the same portable integer pipeline: k bit
# positions per key via xor-salted hashes. Membership probes can false-
# positive (never false-negative); both the bit set and every probe are
# integer arithmetic, so a DuckDB oracle replays them exactly — including
# the false positives themselves, which is what makes FP ACCOUNTING (bloom
# hits minus exact hits) an exactly-gateable output instead of a bound.
# ---------------------------------------------------------------------------


def _bloom_positions(key: Column, m_bits: int, depth: int) -> Column:
    return F.array_distinct(
        F.array(
            *[
                (
                    _hll_hash_col(
                        key.cast("long").bitwiseXOR(F.lit(CMS_SALTS[r]))
                    )
                    % m_bits
                )
                for r in range(depth)
            ]
        )
    )


def bloom_build(
    df: DataFrame, key_col: str, m_bits: int = 262_144, depth: int = 4
) -> DataFrame:
    """Build the filter from integer keys: the DISTINCT set bit
    positions (at most m_bits rows however many keys went in; filters
    merge by set union / bitwise OR). Returns a one-column frame
    ``_bit``."""
    return (
        df.select(
            F.explode(
                _bloom_positions(F.col(key_col), m_bits, depth)
            ).alias("_bit")
        )
        .distinct()
    )


def bloom_bitmap(bits: DataFrame) -> DataFrame:
    """Pack the bit-position frame into ONE broadcastable row: a
    map<word_idx, word> of 64-bit words (a 256K-bit filter is <= 4096
    entries, ~32 KB). The word OR-fold is a partial-aggregating shuffle
    over <= m_bits rows; the final single-row map_from_entries is a
    bounded global-scalar feeder (<= m_bits/64 entries by construction,
    the plan-audit waiver pattern)."""
    words = (
        bits.select(
            F.expr("CAST(_bit DIV 64 AS INT)").alias("_w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(_bit % 64 AS INT))"
            ).alias("_word"),
        )
        .groupBy("_w")
        .agg(F.expr("bit_or(_word)").alias("_word"))
    )
    return words.agg(
        F.map_from_entries(F.collect_list(F.struct("_w", "_word"))).alias(
            "_bloom"
        )
    )


def bloom_hit_expr(bits_col: str = "_bits", map_col: str = "_bloom") -> Column:
    """All-positions-set test against a :func:`bloom_bitmap` row,
    evaluated INLINE per probe row (whole-stage-codegen array/map ops:
    no explode, no per-key aggregate, no join) — bit-identical to
    :func:`bloom_probe`'s explode/join/count formulation."""
    return F.expr(
        f"forall({bits_col}, b -> "
        f"(shiftright(coalesce({map_col}[CAST(b DIV 64 AS INT)], "
        f"CAST(0 AS BIGINT)), CAST(b % 64 AS INT)) & 1) = 1)"
    )


def bloom_probe(
    bits: DataFrame,
    probes: DataFrame,
    key_col: str,
    m_bits: int = 262_144,
    depth: int = 4,
) -> DataFrame:
    """Probe: a key hits iff ALL its (distinct) bit positions are set.
    The bit set broadcasts — a 256K-bit filter is 32 KB as a bitmap and
    at most m_bits join keys here. Adds boolean ``bloom_hit``."""
    pr = probes.withColumn(
        "_bits", _bloom_positions(F.col(key_col), m_bits, depth)
    ).withColumn("_bit", F.explode("_bits"))
    marked = pr.join(
        F.broadcast(bits.withColumn("_set", F.lit(1))), "_bit", "left"
    )
    gcols = [c for c in probes.columns]
    return (
        marked.groupBy(*gcols)
        .agg(
            (F.count("_set") == F.count(F.lit(1))).alias("bloom_hit"),
        )
    )


def frequent_items(
    df: DataFrame, col: str, min_share: float = 0.01
) -> DataFrame:
    """Exact heavy hitters: values of ``col`` occurring in more than
    ``min_share`` of rows, with count and share.

    Exact-by-aggregation (groupBy + a broadcast scalar total) rather
    than a lossy CMS/SpaceSaving sketch: the group count shuffle is on
    the profiled column itself and partial aggregation collapses it
    map-side, so the cost is #distinct values, which the min_share
    cutoff makes worth paying. For columns where even #distinct
    explodes, cut cardinality first (hash-bucket the long tail).
    """
    total = df.agg(F.count(F.lit(1)).cast("double").alias("_total"))
    return (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .withColumn("share", F.col("n") / F.col("_total"))
        .filter(F.col("share") > min_share)
        .drop("_total")
    )


def mg_heavy_hitters(df: DataFrame, col: str, k: int = 100) -> DataFrame:
    """EXACT heavy hitters — every value of ``col`` with frequency
    strictly above n/k — via a Misra-Gries candidate pass plus an exact
    recount, never a full-cardinality shuffle.

    :func:`frequent_items` groups by the raw column, which shuffles one
    row per DISTINCT value — fine until the column is a long-tail id at
    crawl scale. This is the standard two-pass fix (Misra-Gries 1982;
    merge bound per Agarwal et al., "Mergeable Summaries", PODS'12):

    1. each partition builds a capacity-``k`` MG summary (Arrow-batched:
       per-batch value_counts folded into the summary, then one batch
       decrement — equivalent to element-wise MG and preserves the
       guarantee). Pigeonhole: a value with global count > n/k exceeds
       n_p/k in at least one partition, so the union of partition
       summaries is a SUPERSET of the true heavy hitters. Output size
       is bounded by partitions x k, independent of cardinality.
    2. candidates broadcast back for one exact filtered recount; the
       strict ``count * k > n`` cut then makes the result exactly
       {v : freq(v) > n/k} — deterministic regardless of partitioning
       (the candidate set may vary; the final set cannot).

    Returns (value, n, share) like :func:`frequent_items`. At 100 TB the
    only shuffle is the candidate-row recount, and the broadcast is at
    most partitions x k values.
    """
    import pandas as pd

    field = df.schema[col]

    def _mg(batches):
        counters: dict = {}
        for pdf in batches:
            vc = pdf[col].value_counts()
            for v, c in vc.items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > k:
                # batched decrement: subtracting the (k+1)-th largest
                # count from all keeps every counter that element-wise
                # MG would keep (same error bound, one pass)
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {
                    v: c - cut for v, c in counters.items() if c - cut > 0
                }
        yield pd.DataFrame({col: list(counters.keys())})

    candidates = (
        df.select(col)
        .mapInPandas(_mg, df.select(col).schema)
        .dropDuplicates([col])
    )
    total = df.agg(F.count(F.lit(1)).alias("_total"))
    return (
        df.join(F.broadcast(candidates), col)
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n") * F.lit(k) > F.col("_total"))
        .withColumn("share", F.col("n") / F.col("_total").cast("double"))
        .drop("_total")
    )
