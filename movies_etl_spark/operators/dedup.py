"""Deduplication operators for large-scale corpora (north star):
exact (hash-groupBy), MinHash+LSH banding, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the whole point of these operators):
- NOTHING here is O(n²) over the corpus. Candidate generation is always
  a shuffle-join on a compact key (content hash, LSH band, block key);
  pairwise verification runs only inside candidate buckets.
- All hashes derive from md5 (engine-portable, deterministic) rather than
  engine-private hash functions — signatures are reproducible anywhere,
  which also makes them incrementally maintainable (append-only corpora
  re-hash only new documents).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from movies_etl_spark.operators.text import token_hash

# MinHash configuration: 8 hashes, 4 bands × 2 rows.
N_MINHASH = 8
N_BANDS = 4
ROWS_PER_BAND = N_MINHASH // N_BANDS

#: rounds the most recent connected_components() call took to converge —
#: read by bench.py so a regression hiding in ITERATION COUNT (adaptive
#: loop) is visible next to wall-time.
#: 0 when the last call took the driver-local union-find path,
#: which has no propagation rounds; LAST_CC_MODE says which path ran.
LAST_CC_ROUNDS: int = 0

#: which execution path the most recent connected_components() call
#: took: "local" (count-guarded driver union-find) or "distributed"
#: (iterative label propagation).
LAST_CC_MODE: str = ""

#: Driver-side union-find admission cap for connected_components, in
#: EDGE ROWS (count-guarded BEFORE the collect). Rows are an honest
#: byte proxy here — an edge is two fixed-width ids, no variable-length
#: payload (unlike the BPE vocab, which gates on characters too) — and
#: the Python-side structures cost ~150-250 bytes per edge (two tuple
#: ints + up to two parent-dict entries), so the default caps driver
#: footprint at roughly 0.5 GB (tracemalloc-measured: the
#: union-find itself peaks at 55 B/edge = 0.10 GiB / 4.5 s wall on 2M
#: random edges over a 1M-node space; the transient collected Row list
#: adds ~0.2 GB — comfortably inside the bound). Over-cap edge lists fall back to the
#: distributed label-propagation loop, which never materializes edges
#: on the driver.
MAX_LOCAL_EDGES = 2_000_000

#: universal-hash family h_i(x) = (a_i·x + b_i) mod P over a Mersenne
#: prime. P < 2^31 keeps a·x < 2^62 (no 64-bit overflow) and the same
#: arithmetic is exact in any engine. Constants are arbitrary fixed odds.
MINHASH_P = 2_147_483_647
MINHASH_SEEDS: list[tuple[int, int]] = [
    (1_103_515_245, 12_345),
    (214_013, 2_531_011),
    (134_775_813, 1),
    (22_695_477, 7_777_777),
    (69_069, 362_437),
    (1_664_525, 1_013_904_223),
    (48_271, 399_268_537),
    (65_539, 101_390_423),
]


#: shingle-combination constants (primes): h(s_i..s_i+2) =
#: (th_i·C1 + th_i+1·C2 + th_i+2) mod P.  th < 2^31, C2 < 2^17 → products
#: < 2^48, sums < 2^49: exact in 64-bit on any engine.
SHINGLE_C1 = 7_919
SHINGLE_C2 = 104_729


def _token_hash_sql(tok: str) -> str:
    """SQL text of text.token_hash over a fragment (48-bit md5 prefix)."""
    return f"cast(conv(substring(md5({tok}), 1, 12), 16, 10) as bigint)"


def _shingle_hash_array_sql(toks: str) -> str:
    """SQL text of the integer 3-shingle hashes of a token-array
    fragment: md5 ONCE PER TOKEN (not per shingle), then each 3-shingle
    hash is an arithmetic combination of consecutive token hashes. That
    drops both shingle-string construction and per-shingle md5, the
    dominant costs of text near-dedup at corpus scale. 31-bit space;
    within-document-pair collisions (~10^-5) are shared exactly by any
    engine replicating the arithmetic.

    The sliding window is zip_with over shifted slices, NOT element_at
    inside a per-element lambda: Catalyst would inline the md5-transform
    array into every element access, turning O(n) hashing into O(n²).
    zip_with evaluates each array operand once per ROW; its null padding
    at the tail is sliced off. One F.expr parse builds the whole tree
    (the repeated ``th``/``n`` subtrees are textual duplicates), where a
    python higher-order-function build cost ~0.13 s of py4j round trips
    per call."""
    th = f"transform({toks}, t -> {_token_hash_sql('t')} % {MINHASH_P})"
    n = f"size({toks})"
    s1 = (
        f"zip_with({th}, slice({th}, 2, {n}), "
        f"(x, y) -> x * {SHINGLE_C1} + y * {SHINGLE_C2})"
    )
    s2 = f"zip_with({s1}, slice({th}, 3, {n}), (x, y) -> (x + y) % {MINHASH_P})"
    return (
        f"CASE WHEN {n} >= 3 THEN slice({s2}, 1, {n} - 2) "
        f"ELSE cast(array() as array<bigint>) END"
    )


def _plain_name(name: str) -> str:
    """``name`` unchanged when it is a plain identifier (``\\w+``);
    ValueError otherwise. The string-input builders paste column names
    into ``F.expr`` text, where a dotted, spaced or quoted name would
    parse as a different expression."""
    if not re.fullmatch(r"\w+", name, re.ASCII):
        raise ValueError(f"not a plain column name (\\w+): {name!r}")
    return name


def shingle_hashes(text_col: str) -> Column:
    """Integer 3-shingle hashes (array<bigint>) of a text column's
    single-space tokens — see :func:`_shingle_hash_array_sql`; empty
    when the text has fewer than 3 tokens. ``text_col`` must be a plain
    name (:func:`_plain_name`)."""
    return F.expr(_shingle_hash_array_sql(f"split({_plain_name(text_col)}, ' ')"))


def shingled(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, shingles) projection (integer shingle hashes) — compute ONCE
    and persist when several downstream branches (banding + verification)
    reuse it; at 100 TB this is a checkpointed table, not a recompute.
    ``text_col`` must be a plain name (:func:`_plain_name`)."""
    return df.select(F.col(id_col), shingle_hashes(text_col).alias("shingles"))


def _minhash_sig_sql() -> list[str]:
    """SQL text of the MinHash signature of the ``shingles`` column: per
    seed i, min over shingles of (a_i·h + b_i) mod P — the universal
    hash family of :data:`MINHASH_SEEDS`. Engine-portable: the SQL
    oracle reproduces the identical arithmetic on the identical
    md5-based token hashes."""
    return [
        f"array_min(transform(shingles, h -> ({a} * h + {b}) % {MINHASH_P}))"
        for a, b in MINHASH_SEEDS[:N_MINHASH]
    ]


def with_minhash_bands(
    sh_df: DataFrame, id_col: str, sig_cols: list[str] | None = None
) -> DataFrame:
    """(id, shingles) → exploded (id, band_id, band_key) rows. A band
    key is the concat of one signature slice; docs sharing ANY band key
    become candidate pairs (bucket join, never n²).

    ``sig_cols``: names of PRECOMPUTED signature columns on ``sh_df``
    to band from, instead of re-deriving the 8 array_min folds from
    ``shingles`` (minhash_jaccard_estimate persists the signature once
    and reads it three times). Each must be a plain name
    (:func:`_plain_name`). The band array is built as ONE parsed
    expression, which a python build of 8 folds + 4 concat_ws paid
    ~0.2 s of py4j calls for, once per streaming micro-batch."""
    if sig_cols is not None:
        sig_sql = [_plain_name(c) for c in sig_cols]
    else:
        sig_sql = _minhash_sig_sql()
    r = len(sig_sql) // N_BANDS
    band_sql = [
        "concat_ws('|', "
        + ", ".join(
            f"cast({c} as string)" for c in sig_sql[b * r : (b + 1) * r]
        )
        + ")"
        for b in range(N_BANDS)
    ]
    banded = sh_df.select(
        F.col(id_col),
        F.expr(
            "array("
            + ", ".join(
                f"named_struct('band_id', {i}, 'band_key', {bk})"
                for i, bk in enumerate(band_sql)
            )
            + ")"
        ).alias("bands"),
    )
    ex = banded.select(id_col, F.explode("bands").alias("b")).select(
        id_col, F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key")
    )
    return ex.filter(F.col("band_key") != "")  # docs too short for shingles


def jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard of two arrays (array_intersect/union are set-semantic)."""
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(
        F.array_union(a, b)
    ).cast("double")


#: hard cap on rows per LSH band bucket: a b-row bucket emits ~b²/2
#: candidate pairs from the band self-join, so 10k rows → ~5·10⁷ pairs
#: from ONE bucket — the same per-task pairwise ceiling as
#: MAX_COSINE_BLOCK_ROWS. A bucket past this cap means the corpus has a
#: duplicate family LSH banding cannot bound (boilerplate-heavy scrape:
#: one viral template repeated millions of times lands in one bucket and
#: the self-join squares it); the fix is upstream — exact-dedup first so
#: identical docs collapse to one bucket row, raise ROWS_PER_BAND so
#: bands are more selective, or sub-split the bucket — never a bigger
#: cluster.
MAX_BAND_BUCKET_ROWS = 10_000


def _bucket_overflow_message(max_bucket_rows: int, size: Column) -> Column:
    """Failure text for an over-cap band bucket holding ``size`` rows (a
    string column), with the remediation."""
    return F.concat_ws(
        "",
        F.lit("LSH band bucket (band_id="),
        F.col("band_id").cast("string"),
        F.lit(", band_key="),
        F.substring(F.col("band_key"), 1, 64),
        F.lit(") holds "),
        size,
        F.lit(
            f" rows (cap {max_bucket_rows}): the band self-join would "
            "square this bucket into an unboundable candidate set. "
            "Exact-dedup identical documents first, raise ROWS_PER_BAND "
            "for more selective bands, or sub-split the bucket key."
        ),
    )


def guard_band_buckets(
    bands: DataFrame, max_bucket_rows: int = MAX_BAND_BUCKET_ROWS
) -> DataFrame:
    """Distributed hard-fail when any (band_id, band_key) bucket exceeds
    ``max_bucket_rows`` rows — the banding mirror of the cosine path's
    ``MAX_COSINE_BLOCK_ROWS`` contract (cosine_pairs_vectorized):
    executed inside the plan (window count + raise_error), costing zero
    extra jobs, so an oversized bucket can never silently square itself
    into the candidate join. Passing rows flow through unchanged.

    This window form evaluates ``bands``' lineage exactly once, so it is
    the right guard for frames whose lineage must not be recomputed and
    is not persisted — the incremental/streaming paths' delta-touched
    index subsets, which are also small enough that the window's
    shuffle+sort is negligible. The full-corpus batch path needs NO
    standalone guard at all: :func:`candidate_pairs_minhash` fuses
    the cap check into the collect_list aggregate candidate generation
    already requires, so the guard there costs one `count` column. The
    failure message carries the remediation (see
    MAX_BAND_BUCKET_ROWS)."""
    w = Window.partitionBy("band_id", "band_key")
    counted = bands.withColumn("__bucket_n", F.count(F.lit(1)).over(w))
    # The guard lives in a FILTER whose predicate is a non-foldable
    # when/raise_error — Catalyst cannot constant-fold it away (unlike
    # `assert_true(...).isNull()`, which NullPropagation may rewrite),
    # and predicate pushdown cannot move it below the window it reads.
    ok = F.when(
        F.col("__bucket_n") > F.lit(max_bucket_rows),
        F.raise_error(
            _bucket_overflow_message(
                max_bucket_rows, F.col("__bucket_n").cast("string")
            )
        ).cast("boolean"),
    ).otherwise(F.lit(True))
    return counted.filter(ok).drop("__bucket_n")


def candidate_pairs_minhash(
    sh_df: DataFrame,
    id_col: str,
    max_bucket_rows: int = MAX_BAND_BUCKET_ROWS,
    sig_cols: list[str] | None = None,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b), deduplicated across bands,
    with the band-bucket size cap ENFORCED — a bucket past
    ``max_bucket_rows`` hard-fails with remediation, so a
    boilerplate-heavy corpus cannot square its hottest bucket (the
    100 TB failure mode exact tests never see).

    FUSED CAPPED form: ONE exchange on the band key feeding candidate
    generation, with the cap enforced BEFORE any aggregation buffer
    exists —
    a ``row_number() ≤ cap+1`` window filter truncates every bucket at
    the shuffle boundary, so the ``collect_list`` that follows can
    never buffer more than ``cap+1`` ids per bucket. Aggregating
    first and guarding after gives correct results, but an
    over-cap mega-bucket (the exact failure mode the guard exists for)
    materializes its FULL id list in the ObjectHashAggregate buffer
    before the guard filter ever evaluates — an executor OOM instead
    of the intended raise_error. Here the only structure that sees the
    full bucket is the window's row buffer, which is an
    ExternalAppendOnlyUnsafeRowBuffer — it SPILLS; aggregate buffers
    don't. Overflow detection rides the post-cap count: a bucket
    counting ``cap+1`` rows was truncated, so the guard raises with
    the "at least cap+1" message (the exact size is unknowable by
    design — the cap exists so it is never computed).

    Scale shape: one exchange on (band_id, band_key) + a spillable
    in-partition sort (the window's cost — measured ~1.0–1.1× the
    aggregate-first shape on the sf0.1 candidate path, identical pair
    sets), the guarded aggregate reuses the window's partitioning (no
    second band exchange), pairs emit map-side via double explode of the
    cap-bounded list (10k bigint ids ≈ 80 KB per bucket row), and the
    final pair ``distinct`` is the only other exchange. ``sh_df`` is a
    (id, shingles) frame — persist it if verification will reuse the
    shingles. ``sig_cols`` passes precomputed signature columns through
    to with_minhash_bands (callers that persist the signature anyway —
    see minhash_jaccard_estimate — avoid re-deriving the folds here)."""
    bands = with_minhash_bands(sh_df, id_col, sig_cols=sig_cols)
    w = Window.partitionBy("band_id", "band_key").orderBy(id_col)
    capped = bands.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= F.lit(max_bucket_rows + 1)
    )
    g = capped.groupBy("band_id", "band_key").agg(
        F.collect_list(id_col).alias("__ids"),
        F.count(F.lit(1)).alias("__bucket_n"),
    )
    # Guard in a FILTER whose predicate is a non-foldable when/
    # raise_error over the aggregate count (same anti-constant-folding
    # reasoning as guard_band_buckets); singleton buckets can produce
    # no pairs and are dropped before the explode.
    ok = F.when(
        F.col("__bucket_n") > F.lit(max_bucket_rows),
        F.raise_error(
            _bucket_overflow_message(
                max_bucket_rows, F.lit(f"at least {max_bucket_rows + 1}")
            )
        ).cast("boolean"),
    ).otherwise(F.lit(True))
    g = g.filter(ok).filter(F.col("__bucket_n") >= 2)
    pairs = (
        g.select(F.explode("__ids").alias("id_a"), "__ids")
        .select("id_a", F.explode("__ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    return pairs.distinct()


def verify_pairs(
    pairs: DataFrame,
    sh_all: DataFrame,
    threshold: float = 0.5,
    keep_jaccard: bool = False,
) -> DataFrame:
    """Jaccard-verify candidate (id_a, id_b) pairs against a
    (doc_id, shingles) table, returning the pairs at ≥ ``threshold`` —
    as ONE shingle join + ONE pair regroup, not two sequential
    id-keyed joins: each pair explodes to (pair, member) roles, fetches
    its shingle array in a single doc_id-keyed join, and regroups on
    the pair struct (max-of-when picks each side; aggregate max skips
    the other side's nulls).

    Why this is the scale shape: in the regime that matters — a
    corpus-sized shingle table, too big to broadcast — the classic
    two-join form exchanges the FULL shingle table twice (once per
    side) plus a mid-join shuffle of pairs already carrying sh_a; the
    fused form exchanges the full table ONCE (the roles side is
    id-only, and the regroup moves 2·|pairs| rows with one array
    each — the same array volume the old mid-join moved). At small
    fixture SF the planner can instead broadcast the shingle table
    under the classic form, so static plan-node counts there do not
    show the win — the measured sf0.1 walls do (dedup_survivors
    4.5 → 3.7-4.1 s, dedup_minhash_lsh 5.1 → 4.6 s), and the
    broadcast path is exactly the one that dies at 100 TB.

    Docs with empty shingle arrays drop exactly like the classic inner
    joins (their side stays null). PRECONDITIONS, both enforced
    in-task: ``pairs`` must be duplicate-free with id_a ≠ id_b
    (candidate_pairs_minhash's contract already is) and ``sh_all`` must
    be doc_id-UNIQUE — the regroup assumes ≤ 2 role rows per pair, and
    a duplicate doc_id row (e.g. an incremental run re-verifying after
    its maintenance append already landed the delta's shingles in the
    store) would otherwise be silently collapsed by the max-of-when
    where the classic two-join form would at least multiply rows. The
    guard rides the aggregate the regroup already pays (a count column,
    zero extra shuffles) and is EMBEDDED in the sh_a/sh_b output columns
    themselves: a guard that rode its own Filter
    would be merged by Catalyst into one conjunction with the null/jac
    predicate, and conjunct evaluation order is not contractually
    guaranteed — a duplicate-store group that also failed the jac
    predicate could be dropped before the guard evaluated. With the
    guard inside the columns, every conjunct of the merged filter
    references a guarded column and `when` evaluates its condition
    first, so a corrupted store fails loudly for EVERY group — a hard
    contract, not best-effort.
    ``keep_jaccard`` adds the rounded-4 ``jac`` column (the value the
    threshold compared — the quantized boundary statistic per the
    SCALE.md standing rule)."""
    sh = sh_all.filter(F.size("shingles") > 0)
    roles = pairs.select(
        F.struct("id_a", "id_b").alias("__p"),
        F.explode(F.array("id_a", "id_b")).alias("doc_id"),
    )
    jac = F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4)
    cols = [
        F.col("__p.id_a").alias("id_a"),
        F.col("__p.id_b").alias("id_b"),
    ]
    if keep_jaccard:
        cols.append(jac.alias("jac"))
    def _guarded(side: str):
        # NullType raise_error coerces to the otherwise branch's array
        # type; `when` evaluates its condition before either branch, so
        # any consumption of this column on a >2-role group raises.
        return F.when(
            F.col("__nroles") > 2,
            F.raise_error(
                "verify_pairs: a candidate pair matched more than 2"
                " (doc_id, shingles) rows — sh_all is not doc_id-unique"
                " (duplicate shingle rows, e.g. a store re-verified after"
                " its maintenance append). Deduplicate the shingle store"
                " (or verify BEFORE appending the delta) and re-run."
            ),
        ).otherwise(F.col(side)).alias(side)

    return (
        roles.join(sh, "doc_id")
        .groupBy("__p")
        .agg(
            F.max(
                F.when(F.col("doc_id") == F.col("__p.id_a"), F.col("shingles"))
            ).alias("sh_a"),
            F.max(
                F.when(F.col("doc_id") == F.col("__p.id_b"), F.col("shingles"))
            ).alias("sh_b"),
            F.count(F.lit(1)).alias("__nroles"),
        )
        .select("__p", _guarded("sh_a"), _guarded("sh_b"))
        .filter(
            F.col("sh_a").isNotNull()
            & F.col("sh_b").isNotNull()
            & (jac >= threshold)
        )
        .select(*cols)
    )


def incremental_candidate_pairs(
    index_bands: DataFrame,
    delta_bands: DataFrame,
    id_col: str,
    max_bucket_rows: int = MAX_BAND_BUCKET_ROWS,
) -> DataFrame:
    """Candidate pairs INTRODUCED by an append-only delta, given the
    persisted band index of the corpus so far: delta × (index ∪ delta)
    on the band key — never a recompute over the existing corpus.

    This is the maintenance step the engine's append-stable hashing
    (md5 + integer universal hashes, module doc) exists to enable: a
    daily-growing corpus keeps ONE band table (parquet, appended per
    batch); each new batch shingles/bands only its own documents, joins
    against the stored bands for cross pairs, and self-joins for
    within-delta pairs — so the incremental cost is O(|delta| + matched
    buckets), not O(|corpus|). Pair identity = total pairs after the
    append ≡ full recompute's pairs (union with the previously known
    pairs; proven by the full-recompute oracle and
    tests/test_ground_truth.py witness).

    Scale shape: the join shuffles on (band_id, band_key) only; the
    index side is first semi-joined down to the buckets the delta
    actually touches (semantically a no-op — untouched buckets cannot
    produce pairs — but it keeps the bucket-size guard O(matched
    buckets) instead of re-scanning the whole index), then
    guard_band_buckets enforces the same ``max_bucket_rows`` cap as the
    batch path, so an append landing in an already-hot boilerplate
    bucket fails loudly instead of squaring it. Returns (id_a, id_b)
    normalized id_a < id_b, distinct across bands."""
    touched = delta_bands.select("band_id", "band_key").distinct()
    matched = index_bands.unionByName(delta_bands).join(
        touched, ["band_id", "band_key"], "left_semi"
    )
    guarded = guard_band_buckets(matched, max_bucket_rows)
    d = delta_bands.select(F.col(id_col).alias("id_d"), "band_id", "band_key")
    o = guarded.select(F.col(id_col).alias("id_o"), "band_id", "band_key")
    pairs = d.join(o, ["band_id", "band_key"]).filter(
        F.col("id_d") != F.col("id_o")
    )
    return (
        pairs.select(
            F.least("id_d", "id_o").alias("id_a"),
            F.greatest("id_d", "id_o").alias("id_b"),
        )
        .distinct()
    )


def simhash16(toks: Column) -> Column:
    """16-bit SimHash over the token bag: bit j of the fingerprint is the
    sign of Σ_tokens (±1 by bit j of hash48(token)). Near-dup docs differ
    in few bits (compare by Hamming distance)."""
    def _bit_pm1(j: int):
        # ±1 by bit j of the hash: (h >> j) & 1, exact integer bit ops.
        # Closure factory, not a defaulted lambda (see _seeded_md5 note).
        return lambda h: (F.shiftright(h, j).bitwiseAND(F.lit(1))) * 2 - 1

    hashed = F.transform(toks, token_hash)
    bits = []
    for j in range(16):
        bit = F.transform(hashed, _bit_pm1(j))
        s = F.aggregate(bit, F.lit(0).cast("long"), lambda acc, v: acc + v)
        bits.append(F.when(s > 0, F.lit(2**j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


# ---------------------------------------------------------------------------
# Vector fold kernels: double-precision left-to-right folds (bit-
# reproducible across engines that fold sequentially), each built as ONE
# F.expr parse — a python-side F.aggregate/F.zip_with build costs ~30-60
# py4j round trips, and the ANN sweeps build ~29 dots per invocation.
# The public builders take column names only, checked by _plain_name;
# _dot_sql also takes array literals.


def _dot_sql(a: str, b: str) -> str:
    """SQL text of the dot product of two SQL array fragments."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * "
        f"cast(y as double)), 0.0D, (acc, v) -> acc + v)"
    )


def _l2norm_sql(a: str) -> str:
    """SQL text of the Euclidean norm of a SQL array fragment."""
    return (
        f"sqrt(aggregate(transform({a}, x -> cast(x as double) * "
        f"cast(x as double)), 0.0D, (acc, v) -> acc + v))"
    )


def dot_expr(a: str, b: str) -> Column:
    """Dot product of two array columns (0.0 for empty arrays)."""
    return F.expr(_dot_sql(_plain_name(a), _plain_name(b)))


def l2norm_expr(a: str) -> Column:
    """Euclidean norm of an array column. Precompute it per ROW before
    any pairwise join — recomputing norms per pair multiplies the fold
    cost by the average bucket size."""
    return F.expr(_l2norm_sql(_plain_name(a)))


def cosine_expr(a: str, b: str) -> Column:
    """Cosine similarity of two array columns. For pairwise workloads
    prefer dot_expr(a, b) / (norm_a·norm_b) with the norms precomputed
    per row — identical value, one fold per pair."""
    a, b = _plain_name(a), _plain_name(b)
    return F.expr(
        f"{_dot_sql(a, b)} / ({_l2norm_sql(a)} * {_l2norm_sql(b)})"
    )


#: hard cap on rows per cosine block: b=10k rows → ~5·10⁷ pair-sims and
#: an ~800 MB float64 gram matrix per task — the largest block one
#: executor task should ever score. Exceeding it means the BLOCKING KEY
#: is wrong (too coarse), and the fix is upstream: sub-bucket the block
#: (e.g. AND with similarity.rp_bucket) or use LSH banding, not a bigger
#: executor.
MAX_COSINE_BLOCK_ROWS = 10_000


def cosine_pairs_vectorized(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.3,
    max_block_rows: int = MAX_COSINE_BLOCK_ROWS,
    carry_col: str | None = None,
    cut: int | None = None,
) -> DataFrame:
    """Numpy fast path for within-block cosine near-dup pairs: each block
    is scored with ONE BLAS gram matrix (applyInPandas per block) instead
    of per-pair folds. Same blocking discipline — pairwise work never
    leaves a block. Output sims are rounded to 4 places (threshold on 6),
    which absorbs the fold-vs-BLAS last-ulp difference, so the fold
    twin's oracle gates this one too; pair-set equality with the fold
    twin is additionally asserted in tests. Pairs are (id_a < id_b).

    ``cut`` (incremental gating): rows with ``id >= cut`` are the append,
    rows below it the existing corpus, and each block is scored as ONE
    rectangular delta×block matmul — emitting exactly the pairs an
    append introduces (delta×existing plus delta×delta upper-triangle)
    and never computing existing×existing entries, which the base
    ingestion already decided. Per-block cost is O(|delta|·|block|), the
    incremental-maintenance contract, not the full-gram O(|block|²).
    ``cut=None`` makes every row delta: the rectangle is then the full
    upper triangle.

    ``carry_col``: optionally ride a per-row
    attribute through the kernel as ``{carry}_a``/``{carry}_b`` on each
    emitted pair. The SemDeDup victim rule needs both members'
    centroid-distance — the rows are already IN the pandas block, so
    carrying them costs two numpy gathers and deletes the two
    shuffle-joins consumers otherwise pay to stitch the attribute back
    on (llm_corpus_pipeline's d2 joins). Default None leaves the output
    schema unchanged.

    The per-task cost is GUARDED, not just documented: TWO bounds hold
    the float64 element count to ``max_block_rows²`` — the rectangular
    gram (|delta|·|block| ≤ cap², i.e. |block| ≤ cap when every row is
    delta) AND the stacked/normalized block matrix itself (|block|·dim ≤
    cap²; with a tiny delta the gram bound alone would admit an
    arbitrarily large block). A breach fails the task with
    the remediation (sub-bucket or band) in the message — executed
    distributed, costing zero extra jobs, so an oversized block can
    never silently absorb a cluster (the embedding_block_guard query is
    the monitoring view of the same bound). Arrow group transfer of the
    raw block rows is upstream of the guard, so a pathological block can
    still cost transfer before it fails."""
    import numpy as np
    import pandas as pd

    def too_big(pdf: pd.DataFrame, what: str) -> ValueError:
        return ValueError(
            f"cosine block {pdf[block_col].iloc[0]!r} has {what} (envelope "
            f"{max_block_rows}^2 elements): it would not fit a task. "
            f"Sub-bucket the block key (e.g. AND with similarity.rp_bucket) "
            f"or switch to LSH banding."
        )

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]

        def emit(a, b, sim) -> pd.DataFrame:
            out = {
                "id_a": ids[a],
                "id_b": ids[b],
                block_col: pdf[block_col].iloc[0],
                "sim": sim,
            }
            if carry_col is not None:
                carry = pdf[carry_col].to_numpy()[order]
                out[f"{carry_col}_a"] = carry[a]
                out[f"{carry_col}_b"] = carry[b]
            return pd.DataFrame(out)

        n = len(ids)
        # ids sorted, so delta rows are the tail
        n_exist = 0 if cut is None else int((ids < cut).sum())
        n_delta = n - n_exist
        if n_delta == 0:  # all-existing block: nothing new to score
            none = np.array([], dtype=np.int64)
            return emit(none, none, np.array([], dtype=np.float64))
        if n_delta * n > max_block_rows * max_block_rows:
            raise too_big(pdf, f"{n_delta} delta × {n} total rows")
        dim = len(pdf[vec_col].iloc[0])
        if n * dim > max_block_rows * max_block_rows:
            raise too_big(pdf, f"{n} rows × dim {dim}: the block matrix itself")
        v = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        sims = v[n_exist:] @ v.T  # (n_delta, n)
        cols = np.arange(n)[None, :]
        rows_g = (n_exist + np.arange(n_delta))[:, None]
        # keep delta×existing (col < n_exist) and delta×delta strictly
        # above the diagonal (col > global row) — never existing×existing
        keep = (cols < n_exist) | (cols > rows_g)
        di, cj = np.nonzero(keep & (np.round(sims, 6) >= threshold))
        gi = n_exist + di
        return emit(
            np.minimum(gi, cj), np.maximum(gi, cj), np.round(sims[di, cj], 4)
        )

    block_type = df.schema[block_col].dataType.simpleString()
    cols = [id_col, vec_col, block_col]
    schema = f"id_a bigint, id_b bigint, {block_col} {block_type}, sim double"
    if carry_col is not None:
        carry_type = df.schema[carry_col].dataType.simpleString()
        cols.append(carry_col)
        schema += f", {carry_col}_a {carry_type}, {carry_col}_b {carry_type}"
    return df.select(*cols).groupBy(block_col).applyInPandas(
        per_block, schema
    )


def _components_local(
    rows: list[tuple],
) -> list[tuple]:
    """Union-find over a collected edge list — min member id per
    component, exactly the label the distributed propagation converges
    to. Union-by-min keeps the invariant that every tree root IS the
    minimum id of its component (the smaller root becomes parent at
    every union), so find(x) after all unions returns the canonical
    label directly; path compression keeps finds near-constant despite
    forgoing union-by-rank. Returns sorted (node, component) tuples for
    every node appearing in any edge (self-edges included)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in rows:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ra, rb = find(u), find(v)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return sorted((x, find(x)) for x in parent)


#: Distributed-CC convergence-check cadence: the monotone
#: convergence aggregate is exact at ANY inspection round, so checking
#: every 2nd round halves the per-round action overhead for ≤1 extra
#: no-op round on odd-round convergence. 1 restores check-every-round.
CC_CHECK_EVERY = 2


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    max_local_edges: int = MAX_LOCAL_EDGES,
) -> DataFrame:
    """Connected components over a near-dup pair graph → canonical
    cluster ids (min member id), the step that turns pairwise dedup
    output into keep-one-per-cluster decisions.

    Execution split (the BPE trainer's local/distributed split applied
    to the curation build side): the VERIFIED edge list is tiny relative
    to the corpus (near-dup pairs survive LSH banding + Jaccard ≥ τ), so
    when it fits ``max_local_edges`` rows the components run as a
    driver-side union-find over ONE count + ONE collect — the label
    table that comes back is at most 2·|edges| rows, the same
    broadcast-size class every consumer's anti-join already assumes.
    This deletes the per-round label shuffle AND the per-round
    convergence action entirely (measured: 27 of curation_pipeline's 28
    builder jobs were inside this loop — the eager edge checkpoint plus
    2 propagation rounds × AQE stage jobs × convergence collects).
    Over-cap edge lists (a corpus whose duplicate graph itself is
    huge) fall back to the distributed iterative min-label propagation
    below, which never materializes edges on the driver. Both paths
    return identical labels (asserted in tests/test_property_parity.py).

    Distributed path: each round joins labels across edges in both
    directions and keeps the minimum; stops when a round changes
    nothing. Near-dup graphs have tiny diameters (pairs/chains), so
    convergence is 2-3 rounds; each round is one shuffle of the label
    table.

    Returns (node, component)."""
    global LAST_CC_ROUNDS, LAST_CC_MODE
    # The edge lineage is typically the expensive candidate-verify join
    # (LSH band join + Jaccard over shingle arrays) — evaluate it
    # exactly ONCE: persist, then the guard count() materializes it and
    # every later access (the local path's collect, or the over-cap
    # path's localCheckpoint) reads the cache.
    # Null endpoints carry no node identity: the distributed loop's
    # label joins would drop them silently while the local union-find
    # would TypeError on None-vs-int comparison — the
    # two paths must not diverge on malformed input. Filter them here so
    # BOTH paths see the same well-defined edge list; the filter rides
    # the persist scan (zero extra jobs).
    e0 = (
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .persist()
    )
    if e0.count() <= max_local_edges:
        labels = _components_local([(r["u"], r["v"]) for r in e0.collect()])
        e0.unpersist()
        LAST_CC_ROUNDS = 0
        LAST_CC_MODE = "local"
        from pyspark.sql.types import StructField, StructType

        node_t = e0.schema["u"].dataType
        schema = StructType(
            [
                StructField("node", node_t, False),
                StructField("component", node_t, False),
            ]
        )
        if not labels:
            return edges.sparkSession.createDataFrame([], schema)
        # Arrow batch transfer back (pandas), not row pickling: the label
        # table can be up to 2·max_local_edges rows at the cap.
        import pandas as pd

        return edges.sparkSession.createDataFrame(
            pd.DataFrame(labels, columns=["node", "component"]), schema
        )
    LAST_CC_MODE = "distributed"
    # Over-cap distributed loop. localCheckpoint (not just persist) both
    # materializes the edge list AND truncates its lineage to an RDD
    # leaf: persist alone keeps the full analyzed plan, and because each
    # round's plan embeds the previous round's, the tree grows
    # geometrically with rounds — by round 2-3 Catalyst was spending
    # seconds per action OPTIMIZING a multi-hundred-node plan of an
    # already-cached frame (measured: the final survivors anti-join in
    # curation_pipeline paid 3-5 s of pure planning on a 465 KB explain
    # string). With leaf plans every round optimizes a constant-size
    # tree. On a fault-tolerant cluster use checkpoint(dir) instead —
    # localCheckpoint blocks don't survive executor loss.
    # Materialize the BIDIRECTIONAL edge table once, PRE-SHUFFLED on the
    # join key: every round joins `both` on v, so shuffling it
    # per round re-pays the edge exchange each iteration — the dominant
    # repeated cost once labels are leaf-sized. One repartition(v) +
    # eager checkpoint amortizes that shuffle across all rounds
    # (interleaved A/B at 100 k nodes / 75 k edges: steady-state loop
    # wall 5.4 s → 3.2 s, ~40% off). The eager checkpoint also
    # evaluates the union's two branches exactly ONCE, against e0's
    # persisted cache — for LSH-verified edges that matters doubly: the
    # union embeds `edges`' lineage in BOTH branches, and without a
    # materialization barrier the candidate self-join + Jaccard verify
    # + bucket guard would run twice (measured without a barrier: every
    # connected_components consumer paid the guard twice, pushing
    # dedup_survivors to 1.85× and curation_pipeline to 1.59× of their
    # walls with one).
    both = (
        e0.select(F.col("u"), F.col("v"))
        .union(e0.select(F.col("v"), F.col("u")))
        .repartition(F.col("v"))
        .localCheckpoint(eager=True)
    )
    e0.unpersist()
    labels = (
        both.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for rounds in range(1, max_iter + 1):
        LAST_CC_ROUNDS = rounds
        neighbor_min = (
            both.join(labels, both["v"] == labels["node"])
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("component").alias("nbr_comp"))
        )
        # Pointer-doubling shortcut: also take L(L(x)) — the label
        # of the node my label points at. Neighbor-min alone hops one
        # edge per round (O(diameter) rounds; a 1000-chain needs 1000),
        # while label-of-label halves every pointer chain, so the
        # combined operator converges in O(log d) rounds (measured: the
        # 1000-chain closes in 11). Cost: one extra leaf-sized label
        # self-join per round. Convergence stays exact: at a fixpoint
        # the neighbor condition alone forces labels constant per
        # component (edges are bidirectional), and labels are component
        # member ids with L(x) ≤ x invariant, so the constant is the
        # component minimum — the shortcut only accelerates descent.
        shortcut = labels.alias("l1").join(
            labels.alias("l2"),
            F.col("l1.component") == F.col("l2.node"),
        ).select(
            F.col("l1.node").alias("node"),
            F.col("l2.component").alias("sc_comp"),
        )
        new_labels = (
            labels.withColumnRenamed("component", "_old")
            .join(neighbor_min, "node", "left")
            .join(shortcut, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("_old"),
                    F.coalesce(F.col("nbr_comp"), F.col("_old")),
                    F.coalesce(F.col("sc_comp"), F.col("_old")),
                ).alias("component"),
                F.col("_old"),
            )
        )
        # Lazy localCheckpoint: the convergence aggregate below is the one
        # action per checked round — it materializes the checkpoint AND
        # answers convergence (min-label propagation is monotone, so
        # counting component < _old is exact). After it, this round's
        # frame is an RDD leaf: next round's plan is constant-size
        # instead of embedding every earlier round (see the `both`
        # comment) — the plan stays leaf-truncated even on UNCHECKED
        # rounds, because the lazy checkpoint wraps the round in a
        # LogicalRDD at construction; only the RDD's materialization
        # waits for the next action. Superseded rounds' blocks are
        # released by the ContextCleaner when the frame is dropped; each
        # is a 3-column label table, the same footprint class the old
        # explicit persist/unpersist managed.
        new_labels = new_labels.localCheckpoint(eager=False)
        # Convergence check BATCHED every CC_CHECK_EVERY rounds: the
        # check is exact either way — monotone
        # descent means changed==0 at round k certifies the fixpoint
        # regardless of which earlier rounds were inspected; skipping
        # intermediate checks at worst runs CC_CHECK_EVERY-1 extra
        # (no-op) rounds before detecting, and saves each skipped
        # round's action round-trip + label-table scan. The final
        # allowed round is always checked so the fail-loud
        # non-convergence contract below keeps its exactness.
        if rounds % CC_CHECK_EVERY == 0 or rounds == max_iter:
            # coalesce: F.sum over an EMPTY labels frame (no edges) is
            # NULL — without it `changed == 0` never holds and the loop
            # runs max_iter
            changed = new_labels.agg(
                F.coalesce(
                    F.sum((F.col("component") < F.col("_old")).cast("long")),
                    F.lit(0),
                ).alias("c")
            ).collect()[0]["c"]
        else:
            changed = None  # not inspected this round
        # next round reads the checkpointed frame through a 2-column
        # projection
        labels = new_labels.select("node", "component")
        if changed == 0:
            break
    else:
        # Fail-LOUD on non-convergence: min-label propagation hops
        # one edge per round, so a component whose diameter exceeds
        # max_iter would otherwise return PARTIALLY-PROPAGATED labels
        # silently — at 100 TB that's a duplicate cluster quietly split
        # in two, the same fail-silent class the band-bucket guard
        # exists for. Near-dup graphs have tiny diameters (pairs and
        # short chains), so hitting this means the graph is not the
        # shape the caller assumed; raising with remediation beats
        # wrong survivors.
        raise ValueError(
            f"connected_components: min-label propagation did not "
            f"converge within max_iter={max_iter} rounds ({changed} labels "
            f"still changing) — the pair graph contains a component with "
            f"diameter > {max_iter}. Remediation: raise max_iter "
            f"(rounds are cheap: one leaf-sized label shuffle each), or "
            f"inspect the edge list — a huge-diameter duplicate graph "
            f"usually means the verify threshold admitted chains of "
            f"borderline pairs."
        )
    return labels.select("node", "component")
