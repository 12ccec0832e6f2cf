"""Mergeable sketches (SCALE.md's at-scale swap for exact statistics,
made explicit as partial/merge stages): equi-depth quantile centroids,
a portable HyperLogLog for distinct counts, and a count-min sketch for
frequency point queries / heavy hitters.

``percentile_approx`` already merges t-digest partials inside one query,
but a 100 TB pipeline needs the partials THEMSELVES as data: per-shard
(per-day, per-source) sketch tables that merge later — across jobs,
engines, and re-runs — without touching the raw values again. That
requires an engine-portable sketch: this module implements an equi-depth
centroid sketch (t-digest's merge discipline with uniform instead of
quantile-scaled centroid sizing) in pure DataFrame arithmetic, so the
identical sketch recomputes in any engine (the DuckDB oracle replicates
it exactly) and partials are append-stable the way the md5 dedup hashes
are (dedup.py module doc).

Error contract: with ``k`` centroids per shard, each centroid holds
≤ ceil(n_shard/k) values, so a merged-quantile estimate's RANK error is
bounded by ~N/k (one centroid width per shard boundary) — the
tests assert estimates sit inside the exact [q−1.5/k·margin, q+margin]
rank window rather than an ad-hoc relative tolerance.

Scale shape: stage 1 is a map-side-combinable aggregate per (shard,
bucket) — ONE shuffle of ~shards·k centroid rows, never the values;
the merge stage sorts centroid rows (thousands, not billions) and is
associative: shard sketches can merge into region sketches into a
global sketch, each step reading only centroid tables.
"""

from __future__ import annotations

import math
import weakref
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_shard(shard_col) -> Column:
    """Accept a column name or Column expression; alias it to 'shard'."""
    c = F.col(shard_col) if isinstance(shard_col, str) else shard_col
    return c.alias("shard")


def equidepth_centroids(
    df: DataFrame,
    value_col: str,
    shard_col: str,
    k: int = 100,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-shard partial sketch: rank values within the shard, cut into
    ``k`` equi-depth buckets, and reduce each bucket to a (mean, weight)
    centroid. Returns (*group_cols, shard, bucket, m, w) —
    ``group_cols`` scopes everything (sketch per group per shard, e.g.
    per (priority, day)), empty for a global sketch.

    The rank orders by the value alone. Ties cannot change the output:
    once a shard is sorted by value, its i-th row holds the i-th
    smallest value however equal values are ordered, so every bucket
    receives the same multiset of values and hence the same mean and
    weight (nulls sort first either way). No tie-break columns are
    needed, so the input is narrowed to (*group_cols, shard, v) before
    the windows run and the rank window's Exchange carries only those
    columns.

    The rank window shuffles each shard's values once — the same shuffle
    class as any per-shard sort — and the centroid reduction is a
    map-side-combinable groupBy. At 100 TB the shard column is the
    physical partition (day, source file group), so the window never
    crosses partitions and the output is ~groups·shards·k rows."""
    gcols = list(group_cols)
    base = df.select(
        *gcols, F.col(shard_col).alias("shard"), F.col(value_col).alias("v")
    )
    w_shard = Window.partitionBy(*gcols, "shard")
    ranked = base.select(
        *gcols,
        "shard",
        "v",
        (F.row_number().over(w_shard.orderBy("v")) - 1).alias("rn"),
        F.count(F.lit(1)).over(w_shard).alias("n_s"),
    )
    bucket = F.floor(F.col("rn") * k / F.col("n_s")).cast("bigint")
    return ranked.groupBy(*gcols, "shard", bucket.alias("bucket")).agg(
        F.avg("v").alias("m"), F.count(F.lit(1)).alias("w")
    )


def merge_centroid_quantiles(
    centroids: DataFrame,
    quantiles: Sequence[float],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge partial sketches into quantile estimates: order ALL shard
    centroids by (mean, shard, bucket) — the deterministic total order —
    take the running weight, and for each q return the mean of the first
    centroid whose cumulative weight reaches q·N. With ``group_cols``
    the whole computation runs per group (the per-group-percentile
    dashboard from partials). Returns (*group_cols, q, est) with est
    UNROUNDED — callers round exactly once at their output scale
    (double-rounding at two scales can flip the last digit vs an oracle
    that rounds once).

    This is the associative merge: ``centroids`` may itself be the union
    of previously merged centroid tables (shard → region → global), and
    the input is centroid rows only — the raw values are never re-read.
    The quantile probes are a tiny broadcast side (|groups|·|qs| rows)
    against the centroid table."""
    gcols = list(group_cols)
    w_cum = (
        Window.partitionBy(*gcols)
        .orderBy("m", "shard", "bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*gcols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ordered = centroids.select(
        *gcols,
        "m",
        F.sum("w").over(w_cum).alias("cum"),
        F.sum("w").over(w_tot).alias("total"),
    )
    qs = F.array(*[F.lit(float(q)) for q in quantiles])
    if gcols:
        qdf = (
            centroids.select(*gcols)
            .distinct()
            .select(
                *[F.col(c).alias(f"__g_{c}") for c in gcols],
                F.explode(qs).alias("q"),
            )
        )
        cond = F.col("cum") >= F.col("q") * F.col("total")
        for c in gcols:
            cond = cond & (F.col(f"__g_{c}") == F.col(c))
        hit = qdf.join(ordered, cond, "inner")
        return (
            hit.groupBy(*[f"__g_{c}" for c in gcols], "q")
            .agg(F.min_by("m", "cum").alias("m_sel"))
            .select(
                *[F.col(f"__g_{c}").alias(c) for c in gcols],
                "q",
                F.col("m_sel").alias("est"),
            )
        )
    qdf = centroids.sparkSession.range(1).select(F.explode(qs).alias("q"))
    hit = qdf.join(
        ordered, F.col("cum") >= F.col("q") * F.col("total"), "inner"
    )
    return (
        hit.groupBy("q")
        .agg(F.min_by("m", "cum").alias("m_sel"))
        .select("q", F.col("m_sel").alias("est"))
    )


# ===========================================================================
# Portable HyperLogLog (mergeable distinct-count sketch)
# ===========================================================================

#: HLL geometry: p register-index bits → m = 2^p registers; the md5-hex
#: prefix supplies 60 hash bits, leaving W = 60 - p value bits. With
#: p = 9 the standard error is 1.04/sqrt(512) ≈ 4.6%.
HLL_P = 9
HLL_M = 1 << HLL_P
HLL_W = 60 - HLL_P
#: bias constant alpha_m for m ≥ 128 (Flajolet et al. 2007).
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)

#: Linear-counting estimates m·ln(m/V) for every possible empty-register
#: count V = 1..m, computed ONCE here and embedded as identical double
#: literals in both the Spark plan and the DuckDB oracle SQL. The ln
#: never evaluates inside either engine — libm transcendentals are not
#: correctly rounded and can differ in the last ulp between the JVM and
#: DuckDB, which on a .005 rounding boundary would flip the rounded
#: estimate. Both engines parse the same decimal literal to
#: the same IEEE double, so the estimate is now integer-deterministic in
#: V. ``repr`` round-trips doubles exactly in both parsers.
HLL_LINEAR_TABLE: tuple[float, ...] = tuple(
    HLL_M * math.log(HLL_M / v) for v in range(1, HLL_M + 1)
)


def hll_linear_sql(v_zero_expr: str = "v_zero") -> str:
    """DuckDB expression for the linear-counting estimate: the shared
    literal table indexed (1-based) by the empty-register count. Callers
    guard with ``v_zero > 0`` exactly like the Spark side.

    Literals are emitted as STRING-cast doubles ('…'::DOUBLE), not bare
    decimals: DuckDB types a bare 17-digit decimal literal DECIMAL(19,15)
    and its DECIMAL→DOUBLE cast is not correctly rounded (measured: 99 of
    512 table entries land 1 ulp off the IEEE double the same literal
    parses to in the JVM/Python), whereas the VARCHAR→DOUBLE cast is an
    exact strtod round-trip of repr's shortest form."""
    lits = ", ".join(f"'{x!r}'::DOUBLE" for x in HLL_LINEAR_TABLE)
    return f"([{lits}])[CAST({v_zero_expr} AS INT)]"


def hll_partials(df: DataFrame, key_col: str, shard_col) -> DataFrame:
    """Per-shard HLL register table — the PARTIAL a 100 TB pipeline
    stores per day/source and merges later without re-reading keys.

    Hashing is the engine-portable md5 discipline (dedup.py module doc):
    h = first 15 md5-hex chars as a 60-bit integer; register = top
    HLL_P bits; rho = leading-zero count of the remaining HLL_W bits
    plus one, computed EXACTLY via the minimal-width binary string
    (``bin`` agrees between Spark and DuckDB) — no float log2 anywhere.
    Output: (shard, register, rho) with rho = max per register; ~m rows
    per shard regardless of input size, map-side combinable."""
    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    reg = F.shiftright(h, HLL_W)
    rest = h % F.lit(1 << HLL_W)
    rho = F.when(rest == 0, F.lit(HLL_W + 1)).otherwise(
        F.lit(HLL_W + 1) - F.length(F.bin(rest))
    )
    return (
        df.filter(F.col(key_col).isNotNull())  # HLL counts non-null keys
        .select(_as_shard(shard_col), reg.alias("register"), rho.alias("rho"))
        .groupBy("shard", "register")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(partials: DataFrame) -> DataFrame:
    """Merge register tables across shards: max per register — the
    associative merge (shard → day → global), reading only ~m-row
    partials, never the keys."""
    return partials.groupBy("register").agg(F.max("rho").alias("rho"))


#: Per-session cache of the 512-row linear-counting lookup frame —
#: building it is driver-side work (createDataFrame of HLL_M rows) that
#: would otherwise repeat on every hll_estimate call. An id(spark)-keyed
#: dict would pin dead sessions for the process lifetime, and a
#: single-slot cache evicts a LIVE session's entry whenever two sessions
#: interleave. So it is a ``WeakKeyDictionary`` keyed on the session:
#: each live session keeps exactly one entry and a collected session's
#: entry vanishes with it. The value is deliberately the JVM-side frame
#: handle, NOT the Python ``DataFrame`` wrapper: the wrapper strongly
#: references its session, and a WeakKeyDictionary whose value
#: references its key never releases the entry (the documented weakref
#: retention caveat) — caching the jdf and re-wrapping per call keeps
#: the weak key actually weak. Re-wrapping is O(1) driver work.
_LINEAR_LUT_CACHE: "weakref.WeakKeyDictionary[object, object]" = (
    weakref.WeakKeyDictionary()
)


def _linear_lookup(registers: DataFrame) -> DataFrame:
    spark = registers.sparkSession
    jdf = _LINEAR_LUT_CACHE.get(spark)
    if jdf is None:
        lut = spark.createDataFrame(
            [(i + 1, x) for i, x in enumerate(HLL_LINEAR_TABLE)],
            "v_idx int, linear double",
        )
        _LINEAR_LUT_CACHE[spark] = lut._jdf
        return lut
    return DataFrame(jdf, spark)


def hll_estimate(registers: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Distinct-count estimate from a register table (optionally one
    estimate per ``group_cols`` — e.g. per shard when fed partials).

    The harmonic-mean denominator is computed in EXACT integer
    arithmetic: sum(2^-rho) · 2^(W+1) = sum(2^(W+1-rho)) is a bigint
    (≤ m·2^W ≈ 2^60, no overflow), absent registers contribute 2^(W+1)
    each, and the single float division happens once at the end — so
    the estimate is a deterministic function of the register table and
    replays bit-identically in the DuckDB oracle. Small-range
    correction: linear counting m·ln(m/V) when E ≤ 2.5m and V > 0, read
    from the precomputed HLL_LINEAR_TABLE (never a live ln — see the
    table's doc for the cross-engine ulp rationale) via a BROADCAST
    lookup join on the empty-register count rather than a 512-element
    array literal: embedding the table in the plan cost every
    hll_estimate call ~15% in plan/codegen time (interleaved A/B),
    while an m-row post-aggregate BroadcastHashJoin is free.
    Same doubles either way — the lookup frame holds the same Python
    floats the oracle literals print."""
    gcols = list(group_cols or [])
    term = F.expr(f"shiftleft(cast(1 as bigint), {HLL_W + 1} - rho)")
    agg = registers.groupBy(*gcols).agg(
        # coalesce: an ungrouped aggregate over ZERO register rows yields
        # a NULL sum — an empty sketch must estimate 0 distinct, not NULL
        F.coalesce(F.sum(term), F.lit(0)).alias("s_present"),
        F.count(F.lit(1)).alias("n_present"),
    )
    full = F.lit(1 << (HLL_W + 1))
    s_total = F.col("s_present") + (F.lit(HLL_M) - F.col("n_present")) * full
    sum_inv = s_total.cast("double") / full.cast("double")
    e_raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / sum_inv
    v_zero = (F.lit(HLL_M) - F.col("n_present")).cast("double")
    # guard the lookup key so the v_zero == 0 rows (which take the raw
    # branch) still carry a joinable index in [1, m]
    v_idx = F.greatest(
        (F.lit(HLL_M) - F.col("n_present")).cast("int"), F.lit(1)
    )
    joined = agg.withColumn("__v_idx", v_idx).join(
        F.broadcast(_linear_lookup(registers)).withColumnRenamed(
            "v_idx", "__v_idx"
        ),
        "__v_idx",
        "left",
    )
    e_corr = F.when(
        (e_raw <= 2.5 * HLL_M) & (v_zero > 0), F.col("linear")
    ).otherwise(e_raw)
    return joined.select(*gcols, F.round(e_corr, 2).alias("est_distinct"))


# ===========================================================================
# Count-min sketch (mergeable frequency sketch / heavy-hitter estimates)
# ===========================================================================

#: CMS geometry: depth d independent hash rows × width w cells. Error
#: contract: est ∈ [true, true + e·N/w] with prob ≥ 1 − (1/2)^d·…;
#: overestimate-only, never under.
CMS_DEPTH = 4
CMS_WIDTH = 1024


def _cms_cell(key: Column, seed: int, width: int = CMS_WIDTH) -> Column:
    """Cell index for hash row ``seed``: md5 over the seed-salted key —
    the same engine-portable purpose-salting the split/sample hashes use
    (curation.py) — reduced mod ``width``."""
    salted = F.concat(F.lit(f"{seed}:"), key.cast("string"))
    return (
        F.conv(F.substring(F.md5(salted), 1, 12), 16, 10).cast("long")
        % width
    )


def cms_partials(
    df: DataFrame, key_col: str, shard_col, width: int = CMS_WIDTH
) -> DataFrame:
    """Per-shard CMS cell table: for each of the d hash rows, count
    occurrences per cell. Output (shard, seed, cell, cnt) — ≤ d·w rows
    per shard, a map-side-combinable groupBy; the PARTIAL to store per
    day/source. The d-way row expansion rides a small array explode on
    the map side (no extra shuffle class — still one aggregate)."""
    key = F.col(key_col)
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("seed"), _cms_cell(key, i, width).alias("cell")
            )
            for i in range(CMS_DEPTH)
        ]
    )
    return (
        df.select(_as_shard(shard_col), F.explode(rows).alias("rc"))
        .select("shard", F.col("rc.seed").alias("seed"), F.col("rc.cell").alias("cell"))
        .groupBy("shard", "seed", "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(partials: DataFrame) -> DataFrame:
    """Merge cell tables across shards: sum per (seed, cell) — the
    associative merge, ≤ d·w rows out."""
    return partials.groupBy("seed", "cell").agg(F.sum("cnt").alias("cnt"))


def cms_partials_pair(
    df: DataFrame,
    key_col: str,
    shard_col,
    tag: Column,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """One-pass DUAL cell table: sketches a relation and a predicate-
    defined sub-relation (``tag``) from a single scan. Because the
    sub-relation's rows are a subset of the base rows with the SAME key
    column, its sketch lives inside the base sketch's cell table as a
    second counter: per (shard, seed, cell) the base count plus the
    count of tagged rows — exactly the two tables
    ``cms_partials(df)`` / ``cms_partials(df.filter(tag))`` would
    produce, minus one full scan (and the tagged side's cells are
    guaranteed aligned, since they are computed once). Output
    (shard, seed, cell, cnt, cnt_tag)."""
    key = F.col(key_col)
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("seed"), _cms_cell(key, i, width).alias("cell")
            )
            for i in range(CMS_DEPTH)
        ]
    )
    return (
        df.select(_as_shard(shard_col), tag.alias("__tag"), F.explode(rows).alias("rc"))
        .select(
            "shard",
            F.col("rc.seed").alias("seed"),
            F.col("rc.cell").alias("cell"),
            "__tag",
        )
        .groupBy("shard", "seed", "cell")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count_if(F.col("__tag")).alias("cnt_tag"),
        )
    )


def cms_merge_pair(partials: DataFrame) -> DataFrame:
    """Merge for the dual cell table: both counters sum independently
    (each is an ordinary CMS merge)."""
    return partials.groupBy("seed", "cell").agg(
        F.sum("cnt").alias("cnt"), F.sum("cnt_tag").alias("cnt_tag")
    )


def cms_inner_product_pair(merged: DataFrame) -> DataFrame:
    """Inner product between the base sketch and the tagged sub-sketch
    when both live in ONE dual cell table (cms_partials_pair →
    cms_merge_pair): Σ_w cnt[w]·cnt_tag[w] per hash row, min over the
    full seed spine (missing/empty rows read 0 — same zero-evidence
    rule as cms_inner_product). Identical to
    ``cms_inner_product(base, tagged)`` — a tagged cell absent from the
    base table cannot exist (subset), and base cells with cnt_tag = 0
    contribute 0 exactly as the equi-join's dropped rows do — but with
    NO join: the dual table is already cell-aligned. NULL cells (from
    NULL keys: md5(NULL) → NULL cell) are dropped here, exactly as the
    (seed, cell) equi-join drops them (NULL never equi-matches), so the
    identity holds for null-key inputs too. Returns one
    row (est)."""
    per_seed = (
        merged.filter(F.col("cell").isNotNull())
        .groupBy("seed")
        .agg(F.sum(F.col("cnt") * F.col("cnt_tag")).alias("ip"))
    )
    spine = merged.sparkSession.range(CMS_DEPTH).select(
        F.col("id").cast("int").alias("seed")
    )
    filled = spine.join(per_seed, "seed", "left").select(
        F.coalesce(F.col("ip"), F.lit(0)).alias("ip")
    )
    return filled.agg(F.min("ip").alias("est"))


def cms_point_estimate(
    merged: DataFrame,
    candidates: DataFrame,
    key_col: str,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Frequency estimate for each candidate key: min over the d hash
    rows of the key's cell count (absent cell ⇒ 0). The candidate set is
    broadcast (heavy-hitter shortlists are small by definition); the
    sketch table is ≤ d·w rows, so the join is trivially local.
    ``width`` must match the width the sketch was BUILT with (probing a
    65536-wide sketch with 1024-mod cells would silently read wrong
    cells). Returns (key_col, cms_est)."""
    key = F.col(key_col)
    probes = candidates.select(
        key,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("seed"),
                        _cms_cell(key, i, width).alias("cell"),
                    )
                    for i in range(CMS_DEPTH)
                ]
            )
        ).alias("rc"),
    ).select(key_col, F.col("rc.seed").alias("seed"), F.col("rc.cell").alias("cell"))
    joined = probes.join(merged, ["seed", "cell"], "left").select(
        key_col, F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    return joined.groupBy(key_col).agg(F.min("cnt").alias("cms_est"))


def cdf_from_centroids(
    centroids: DataFrame,
    probes: Sequence[float],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """The quantile dual: estimated CDF (rank fraction) at each probe
    value, read from the SAME centroid tables merge_centroid_quantiles
    consumes — rank(v) ≈ weight of centroids with mean ≤ v over total
    weight. One sketch table serves both directions (quantile lookup
    and percentile-rank lookup), which is the operational point: the
    partials are stored once and answer both dashboards. Probes are a
    tiny broadcast side; the estimate inherits the ~1/k-per-shard rank
    error contract. Returns (*group_cols, probe, est_cdf UNROUNDED)."""
    gcols = list(group_cols)
    pr = F.array(*[F.lit(float(p)) for p in probes])
    if gcols:
        pdf = (
            centroids.select(*gcols)
            .distinct()
            .select(
                *[F.col(c).alias(f"__g_{c}") for c in gcols],
                F.explode(pr).alias("probe"),
            )
        )
        cond = F.lit(True)
        for c in gcols:
            cond = cond & (F.col(f"__g_{c}") == F.col(c))
        joined = pdf.join(centroids, cond, "inner")
        out = joined.groupBy(*[f"__g_{c}" for c in gcols], "probe").agg(
            (
                F.sum(F.when(F.col("m") <= F.col("probe"), F.col("w")).otherwise(0))
                / F.sum("w")
            ).alias("est_cdf")
        )
        return out.select(
            *[F.col(f"__g_{c}").alias(c) for c in gcols], "probe", "est_cdf"
        )
    pdf = centroids.sparkSession.range(1).select(F.explode(pr).alias("probe"))
    return (
        pdf.crossJoin(centroids)
        .groupBy("probe")
        .agg(
            (
                F.sum(F.when(F.col("m") <= F.col("probe"), F.col("w")).otherwise(0))
                / F.sum("w")
            ).alias("est_cdf")
        )
    )


def cms_inner_product(a: DataFrame, b: DataFrame) -> DataFrame:
    """Join-size estimation from two merged CMS cell tables (the AGMS/
    count-min inner-product estimator, Cormode & Muthukrishnan §4.2):
    |A ⋈ B on k| = Σ_k fA(k)·fB(k), estimated per hash row as the cell
    inner product Σ_w cntA[w]·cntB[w], min over rows — overestimate
    only, error ≤ |A|·|B|/w w.h.p. This is how an optimizer prices a
    join from STORED sketch metadata without touching either table:
    ≤ d·w-row tables join on (seed, cell), nothing else moves. Returns
    one row (est).

    A hash row whose cells don't overlap at all has inner product 0 —
    the strongest evidence the true size is 0 — so the min runs over a
    full seed spine with missing rows coalesced to 0, not only over
    rows the join happened to produce (otherwise two DISJOINT key sets
    would estimate NULL, or worse, the min would ignore a zero-reading
    row and overestimate from collision noise alone)."""
    bb = b.select("seed", "cell", F.col("cnt").alias("cnt_b"))
    per_seed = (
        a.join(bb, ["seed", "cell"])
        .groupBy("seed")
        .agg(F.sum(F.col("cnt") * F.col("cnt_b")).alias("ip"))
    )
    spine = a.sparkSession.range(CMS_DEPTH).select(
        F.col("id").cast("int").alias("seed")
    )
    filled = spine.join(per_seed, "seed", "left").select(
        F.coalesce(F.col("ip"), F.lit(0)).alias("ip")
    )
    return filled.agg(F.min("ip").alias("est"))
