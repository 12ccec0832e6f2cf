"""Similarity search over embedding columns (north star): brute-force
cosine top-k as the exact baseline, and an IVF-style partitioned variant
as the scale path.

Scale design:
- Brute force broadcasts the (small) query set and scans the corpus once
  — O(corpus × queries), no corpus self-join, no shuffle of the corpus.
- IVF prunes the scan: corpus rows are pre-assigned to partitions
  (here the `label` column plays the role of a coarse quantizer cell);
  each query searches only its nearest partition(s) — the classic
  inverted-file trade of recall for a ~n_partitions× scan reduction.
  At 100 TB the partition assignment is also the parquet partition key,
  so pruning happens at the FILE level (partition pruning in the scan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from movies_etl_spark.operators.dedup import (
    _dot_sql,
    _plain_name,
    cosine_expr,
    dot_expr,
    l2norm_expr,
)

#: Hard cap on the probe-side collect in :func:`topk_bruteforce_vectorized`
#: — the MAX_LOCAL_EDGES discipline (dedup.py) applied to the query frame.
#: The vectorized twin works by capturing the query MATRIX in the UDF
#: closure (one BLAS matmul per Arrow batch), which is only sound while
#: that matrix is broadcast-small: 100k × dim-32 float64 is ~25 MB of
#: closure shipped to every task, the practical ceiling of the pattern.
#: Every caller passes a contract-small probe set; this makes the
#: contract ENFORCED rather than conventional — an
#: over-cap probe frame fails loudly with remediation instead of
#: silently OOMing the driver at 100 TB.
MAX_LOCAL_QUERIES = 100_000


def _double_vec(vec_col: str) -> Column:
    """``vec_col`` cast element-wise to array<double>. ``vec_col`` must
    be a plain name (:func:`dedup._plain_name`): it is pasted into the
    parsed expression."""
    return F.expr(f"transform({_plain_name(vec_col)}, x -> cast(x as double))")


def topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (excluding self).

    Ties broken on (rounded sim desc, neighbor id asc) — fully
    deterministic. Plan: broadcast queries × one corpus scan → window
    top-k per query."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr("qvec", "cvec"), 6).alias("sim"),
        )
    )
    return _topk_by_sim(scored, k)


def label_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
) -> DataFrame:
    """Element-wise mean vector per partition label (the IVF coarse
    quantizer, here over the precomputed partition). One shuffle on
    (label, position); output is n_labels rows.

    Means are QUANTIZED to 6 places, same discipline as
    _recompute_centroids: the centroids are stored routing artifacts,
    and Spark's parallel partial-sum avg differs from a sequential
    fold (DuckDB's) in the last ulp — unrounded, that ulp leaks into
    every routing cosine and can flip a 6-decimal-rounded csim at a
    boundary, changing which cell a query probes (sporadic,
    partition-count-dependent divergence)."""
    pos = corpus.select(
        label_col, F.posexplode(F.col(vec_col)).alias("pos", "v")
    )
    means = pos.groupBy(label_col, "pos").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("m")
    )
    return (
        means.groupBy(label_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("m")))
            ).alias("pm")
        )
        .select(
            label_col,
            F.expr("transform(pm, s -> s.m)").alias("centroid"),
        )
    )


def topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-style ANN: route each query to its ``nprobe`` nearest
    partition centroids, then exact-search only those partitions —
    nprobe is IVF's recall/scan dial exactly as the probe radius is
    multi-probe LSH's (nprobe/n_cells of the corpus scanned; recall
    floors measured in tests/test_ann_recall.py). Returns
    (query_id, probe_label, neighbor_id, sim, rank)."""
    cents = label_centroids(corpus, vec_col, label_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    # route: top-nprobe centroid cosine per query (n_queries × n_labels)
    routed = q.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "qvec",
        F.col(label_col).alias("probe_label"),
        F.round(cosine_expr("qvec", "centroid"), 6).alias("csim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("probe_label"))
    best = (
        routed.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= nprobe)
        .select("query_id", "qvec", "probe_label")
    )
    # search only the probed partition (partition-pruned scan at scale)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col(label_col).alias("probe_label"),
    )
    scored = (
        c.join(F.broadcast(best), "probe_label")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "probe_label",
            "neighbor_id",
            F.round(cosine_expr("qvec", "cvec"), 6).alias("sim"),
        )
    )
    return _topk_by_sim(scored, k)


def _centroid_boundary(cents: DataFrame) -> DataFrame:
    """LAZY localCheckpoint of a trained-centroid frame (k rows) — the
    stored-artifact boundary. Spark's analysis is EAGER per
    transformation, and each Lloyd's iteration nests the previous
    assignment's whole plan, so every consumer transformation re-walks
    the full train tree: `kmeans_train_assign` alone spent 3.7–4.4 s of
    DRIVER time building its plan at sf0.1, before any action (the same
    per-job Catalyst re-analysis class as llm_corpus_pipeline's stage
    boundaries address).
    A lazy checkpoint swaps the train subtree for a LogicalRDD leaf AT
    BUILD TIME without running a job (the checkpoint materializes on
    the query's own first action), so downstream pair joins analyze
    against a leaf. Values are unchanged — the identical quantized
    train computes once, at its stored-artifact boundary, exactly where
    a 100 TB run would write centroids to storage."""
    from movies_etl_spark.operators import caching

    return caching.tracked_local_checkpoint(cents, eager=False)


def _assign_cells(v_df: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign each vector to its nearest centroid (rounded distance,
    ties to the lowest cell id — fully deterministic).

    MAP-ONLY: the k centroids aggregate into ONE packed row
    (collect_list — order-insensitive, the argmin is a min over
    structs), broadcast onto the corpus, and the argmin evaluates as an
    ``array_min`` over (d2, cell) structs per row — struct ordering is
    field-by-field, so min(struct(d2, cell)) IS the old window's
    ``ORDER BY d2, cell → rn=1`` row. The previous form exploded k rows
    per vector and shuffled the ENTIRE corpus on vec_id for a window
    argmin — per Lloyd's pass, a corpus-wide shuffle that dominates
    everything else at 100 TB. Now each assignment pass is a pure scan:
    zero exchanges on the corpus side (the only shuffle left in a
    Lloyd's iteration is the k-row mean recompute)."""
    packed = cents.agg(
        F.collect_list(F.struct("cell", "centroid")).alias("cc")
    )
    # single-parse argmin (driver build cost): the python-HOF
    # construction (transform lambda + zip_with/aggregate lambdas) cost
    # ~0.3-0.5 s of py4j chatter per assignment pass; this is the
    # identical expression tree — same casts, same fold order, same
    # 6-place rounding — in one parse.
    best = F.expr(
        "array_min(transform(cc, c -> struct("
        "round(aggregate(zip_with(vd, c.centroid, (x, y) -> "
        "(cast(x as double) - cast(y as double)) * "
        "(cast(x as double) - cast(y as double))), "
        "0.0D, (acc, v) -> acc + v), 6) AS d2, c.cell AS cell)))"
    )
    return (
        v_df.crossJoin(F.broadcast(packed))
        # empty-centroid parity with the old crossJoin-with-empty form:
        # zero output rows, not null-cell rows
        .filter(F.size("cc") >= 1)
        .select(
            "vec_id",
            "vd",
            best["cell"].alias("cell"),
            best["d2"].alias("d2"),
        )
    )


def _recompute_centroids(assigned: DataFrame) -> DataFrame:
    """Element-wise mean per cell (the label_centroids shape keyed on
    the learned cell): one shuffle on (cell, position), k rows out.

    Means are QUANTIZED to 6 places: learned centroids are stored
    artifacts, and rounding makes them identical across engines (a
    parallel partial-sum avg differs from a sequential fold in the last
    ulp, which otherwise leaks through every downstream distance)."""
    pos = assigned.select("cell", F.posexplode("vd").alias("pos", "x"))
    means = pos.groupBy("cell", "pos").agg(F.round(F.avg("x"), 6).alias("m"))
    return (
        means.groupBy("cell")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
        )
        .select("cell", F.expr("transform(pm, s -> s.m)").alias("centroid"))
    )


def kmeans_assign(
    corpus: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """Lloyd's k-means, fixed iteration count, pure DataFrame ops — the
    IVF coarse-quantizer TRAINER (topk_ivf consumes the resulting cell
    assignment as its partition key; here the cells are learned instead
    of given). Seeds are the first k vectors by id (deterministic, so
    the SQL oracle replays the identical iterations).

    Per iteration: one broadcast-assignment scan of the corpus + one
    (cell, position) shuffle for the mean recompute — the corpus is
    never self-joined and nothing iterative accumulates driver state.
    Fixed `iters` (not convergence-tested) keeps the plan static and the
    oracle finite; production runs pick iters from a held-out inertia
    check. Returns (vec_id, cell, d2 = rounded squared distance);
    ``keep_vec=True`` additionally returns ``vd`` — the
    double-cast input vector the assignment already scanned — so a
    consumer that needs (cell, d2, vector) per row (the SemDeDup memb
    frame) skips a whole shuffle-join back onto the embedding table;
    float→double casts are exact, so downstream cosine over ``vd`` is
    bit-identical to cosine over the raw column."""
    v = corpus.select(id_col, _double_vec(vec_col).alias("vd"))
    cents = v.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("cell"), F.col("vd").alias("centroid")
    )
    for _ in range(iters - 1):
        cents = _recompute_centroids(_assign_cells(v, cents))
    assigned = _assign_cells(v, _centroid_boundary(cents))
    cols = [id_col, "cell", F.round(F.col("d2"), 4).alias("d2")]
    if keep_vec:
        cols.append(F.col("vd"))
    return assigned.select(*cols)


def topk_bruteforce_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_local_queries: int = MAX_LOCAL_QUERIES,
) -> DataFrame:
    """Numpy-vectorized brute-force top-k: the 100 TB fast path.

    The query matrix (small) is captured in the UDF closure and each
    Arrow batch of corpus vectors is scored with one BLAS matmul —
    orders of magnitude faster per row than the fold-based `cosine`.
    Kept SEPARATE from the fold implementation as its performance twin;
    since sims are rounded to 6 places before ranking, numpy's pairwise
    summation agrees with the sequential fold post-rounding and the
    same SQL oracle gates both.

    Per-partition local top-k → global top-k: only k rows (plus any ties
    at the k-th boundary) per partition per query reach the final window,
    so the shuffle is O(k·queries·partitions), independent of corpus
    size.

    The probe-side collect is capped at ``max_local_queries`` rows
    (fail-loud ValueError with remediation — see MAX_LOCAL_QUERIES);
    the guard rides the collect itself via ``take(cap+1)``, zero extra
    jobs."""
    import numpy as np
    import pandas as pd

    # take(cap+1) IS the collect when under cap (limit returns every row
    # once n >= count), and stops early when over — one job either way.
    q_rows = queries.select(id_col, vec_col).take(max_local_queries + 1)
    if len(q_rows) > max_local_queries:
        raise ValueError(
            f"topk_bruteforce_vectorized: query frame exceeds "
            f"max_local_queries={max_local_queries} rows — the vectorized "
            f"twin captures the query matrix in the UDF closure and is only "
            f"sound for broadcast-small probe sets. Remediation: batch the "
            f"probe set into <=cap chunks and union the results, or use the "
            f"fold-based topk_bruteforce (broadcast-join plan, no driver "
            f"collect) / an ANN family (similarity_ann_multiprobe, "
            f"similarity_ann_ivf) for large query sets."
        )
    q_ids = [r[id_col] for r in q_rows]
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            c = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            c /= np.linalg.norm(c, axis=1, keepdims=True)
            sims = c @ q_mat.T  # (batch, n_queries)
            out = []
            for qi, qid in enumerate(q_ids):
                # round BEFORE selecting so the local cut agrees with the
                # global window's ordering (which sees rounded sims)
                col = np.round(sims[:, qi], 6)
                mask = ids != qid
                m_ids, m_sims = ids[mask], col[mask]
                take = min(k, m_ids.size)
                if take == 0:
                    # batch held only the query row itself — nothing to
                    # emit (argpartition(kth=-1) on empty would raise)
                    continue
                # keep k PLUS any ties at the k-th boundary: the final
                # window resolves ties by (sim desc, neighbor_id asc), so
                # a raw top-k cut here could drop the exact neighbor the
                # deterministic fold-based twin keeps
                kth = -np.partition(-m_sims, take - 1)[take - 1]
                cand = np.flatnonzero(m_sims >= kth)
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": m_ids[cand],
                            "sim": m_sims[cand],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    local = corpus.select(id_col, vec_col).mapInPandas(
        score, "query_id bigint, neighbor_id bigint, sim double"
    )
    return _topk_by_sim(local, k)


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (cosine ANN bucketing)
# ---------------------------------------------------------------------------

#: deterministic "random" hyperplanes for sign-LSH over 64-dim embeddings:
#: p[j][i] derives from md5 so BOTH engines (and the SQL oracle) share the
#: exact double values via their literal decimal form — no in-engine RNG,
#: no rand(), stable across runs/retries (the property every hash in this
#: repo's sampling/splitting layer relies on).
RP_N_PLANES = 8
RP_DIM = 64


def _rp_value(j: int, i: int) -> float:
    import hashlib

    h = int(hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()[:6], 16)
    return (h % 2001 - 1000) / 1000.0


def rp_planes_n(n_planes: int, dim: int = RP_DIM) -> list[list[float]]:
    """First ``n_planes`` hyperplanes of the md5-derived family — plane
    j is independent of how many planes are requested, so planes 0..7
    are exactly :data:`RP_PLANES` and a sweep over plane counts varies
    only signature LENGTH, never the planes themselves (each config's
    signature is a prefix of the next — the property that makes the
    recall frontier a clean one-variable comparison)."""
    return [[_rp_value(j, i) for i in range(dim)] for j in range(n_planes)]


def multiprobe_offsets(n_planes: int, radius: int) -> list[int]:
    """Every XOR probe mask over ``n_planes`` bits with ≤ ``radius``
    bits set (Hamming ball of the query's own signature), enumerated
    deterministically — generalizes MULTIPROBE_OFFSETS_H1/H2 to the
    (planes × radius) grid the frontier sweep walks. Count is
    Σ_{{m≤radius}} C(n_planes, m)."""
    from itertools import combinations

    return [
        sum(1 << b for b in bits)
        for r in range(radius + 1)
        for bits in combinations(range(n_planes), r)
    ]


#: the default-width plane family (rp_bucket at RP_N_PLANES)
RP_PLANES: list[list[float]] = rp_planes_n(RP_N_PLANES)

#: probe-bucket XOR offsets for multi-probe sign-LSH at Hamming radius 2:
#: every 8-bit mask with ≤2 bits set (1 + 8 + 28 = 37 probes of 256
#: buckets ≈ 14% of the corpus at uniform occupancy). Derived, not
#: random — both engines enumerate the identical literal list.
MULTIPROBE_OFFSETS_H2: list[int] = multiprobe_offsets(RP_N_PLANES, 2)

#: Hamming-radius-1 probe set (1 + 8 = 9 of 256 buckets): the cheaper
#: dial for CLUSTERED corpora, where a query's true neighbors share most
#: signature bits and radius 1 already recovers them (measured on the
#: clustered fixture below: recall@5 ≈ 0.97 at a ~14% scan, vs 0.35 at
#: ~15% for radius 2 on isotropic vectors — tests/test_ann_recall.py).
MULTIPROBE_OFFSETS_H1: list[int] = multiprobe_offsets(RP_N_PLANES, 1)


def rp_bucket(vec: str, n_planes: int = RP_N_PLANES) -> Column:
    """Sign-LSH bucket id in [0, 2^n_planes): bit j is the sign of the
    dot product with hyperplane j of the shared md5 plane family
    (:func:`rp_planes_n`), the dot rounded to 6 places before the sign
    test so a near-zero projection cannot flip between engines. Pure
    per-row map — the corpus is bucketed in the same scan that reads it,
    and at scale the bucket doubles as the layout partition key exactly
    like the IVF cell. The default width uses :data:`RP_PLANES`; wider
    requests extend the same family, so a narrower signature is a prefix
    of a wider one.

    ``vec`` is the NAME of an array column; it must be a plain name
    (``\\w+``; ValueError otherwise). The whole bucket column — each
    plane as a parsed ``array(0.12D, …)`` double literal, the per-plane
    dot folds, rounding, sign CASEs and their sum — is ONE parsed
    expression: building it from python Columns cost ~0.5 s of py4j
    round trips per width-8 invocation, and ~1.4 s at width 16 with
    per-value ``F.lit`` planes. Values are pinned against an
    independent python fold in tests/test_ann_recall.py."""
    vec = _plain_name(vec)
    terms = []
    for j, plane in enumerate(rp_planes_n(n_planes)):
        arr = "array(" + ",".join(f"{v!r}D" for v in plane) + ")"
        terms.append(
            f"(CASE WHEN round({_dot_sql(vec, arr)}, 6) >= 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return F.expr("0 + " + " + ".join(terms))


def lsh_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    n_planes: int,
    offsets: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scored multi-probe sign-LSH candidates (query_id, neighbor_id,
    bucket, sim): each query probes its own ``n_planes``-bit bucket
    XORed with every mask in ``offsets``, and every corpus row in a
    probed bucket (bar the query itself) is scored by exact cosine
    rounded to 6. The candidate stage of :func:`topk_multiprobe_lsh`,
    exposed so a sweep can meter SCAN WORK (candidate row count)
    separately from result quality (recall of the top-k cut).

    Scale shape: probes are queries × len(offsets) — a broadcast-sized
    frame — and candidate generation is a pure EQUI-join on the probe
    bucket (never a Hamming theta-join against the corpus). Probe
    buckets per query are distinct, so no candidate dedup pass is
    needed. The corpus is bucketed in its own scan and never shuffled;
    at scale the bucket is the layout partition key, so a probe set
    prunes to its buckets at the FILE level."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        rp_bucket(vec_col, n_planes).cast("int").alias("bucket"),
        l2norm_expr(vec_col).alias("cnrm"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        rp_bucket(vec_col, n_planes).cast("int").alias("qbucket"),
        l2norm_expr(vec_col).alias("qnrm"),
    )
    probes = q.withColumn(
        "off", F.explode(F.array(*[F.lit(o) for o in offsets]))
    ).select(
        "query_id",
        "qvec",
        "qnrm",
        F.col("qbucket").bitwiseXOR(F.col("off")).cast("int").alias("probe_bucket"),
    )
    sim = F.round(
        dot_expr("qvec", "cvec") / (F.col("qnrm") * F.col("cnrm")), 6
    )
    return (
        c.join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("probe_bucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select("query_id", "neighbor_id", "bucket", sim.alias("sim"))
    )


def _topk_by_sim(cands: DataFrame, k: int) -> DataFrame:
    """Top-``k`` candidates per query by (sim desc, neighbor_id asc),
    with their 1-based ``rank``."""
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return cands.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


#: clustered-fixture noise scale: cluster member = center + NOISE·self.
#: At 0.12 the within-cluster cosine is ≈ 0.97 — tight clusters like
#: real sentence embeddings, not the isotropic synthetic corpus where
#: recall ≈ scan fraction is the information-theoretic ceiling.
CLUSTER_FIXTURE_NOISE = 0.12
CLUSTER_FIXTURE_K = 8


def clustered_fixture(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = CLUSTER_FIXTURE_K,
    noise: float = CLUSTER_FIXTURE_NOISE,
) -> DataFrame:
    """Deterministic planted-cluster corpus derived from an existing
    embedding table: vector i is assigned to cluster ``i % n_clusters``
    and becomes ``center + noise·self``, where the centers are the
    first ``n_clusters`` vectors. Everything is float→double casts,
    one multiply, and one add — correctly-rounded IEEE ops that replay
    bit-identically in the DuckDB oracle (unlike any RNG-based
    mixture), so recall measured on the fixture sits under the exact
    value gate. This is the structured-data counterpart to the
    isotropic corpus: the demonstration that the SAME index machinery
    reaches high recall cheaply when structure exists."""
    centers = corpus.filter(F.col(id_col) < n_clusters).select(
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cv")
    )
    lit = F.lit(float(noise))
    return (
        corpus.withColumn("__cid", F.col(id_col) % n_clusters)
        .join(F.broadcast(centers), "__cid")
        .select(
            F.col(id_col),
            F.zip_with(
                "__cv",
                vec_col,
                lambda c, v: c.cast("double") + lit * v.cast("double"),
            ).alias(vec_col),
        )
    )


def topk_multiprobe_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    offsets: list[int] | None = None,
) -> DataFrame:
    """Multi-probe sign-LSH ANN: each query probes every bucket within
    Hamming distance r of its own signature (r=2 → 37/256 buckets), then
    exact-reranks the candidates. The recall dial single-probe LSH lacks:
    measured on the isotropic test embeddings, recall@5 goes 0.0 → ~0.35
    while still scanning ~15% of the corpus (see tests/test_ann_recall.py
    — on ISOTROPIC vectors recall ≈ scan fraction is the information-
    theoretic ceiling for ANY pruning index; clustered real embeddings
    are where the same machinery reaches high recall cheaply).

    The top-k cut of :func:`lsh_candidates` at RP_N_PLANES planes, with
    ``offsets`` defaulting to MULTIPROBE_OFFSETS_H2: the probe expansion
    is queries × 37 XOR offsets, and a 37-probe query prunes to 37 of
    256 partitions at the FILE level at scale. ``offsets=[0]`` is
    single-probe LSH (each query reranks only its own bucket). The
    ISOTROPIC operating point the frontier sweep selected is
    ``offsets=multiprobe_offsets(8, 3)`` — recall@5 0.625 at a 37% scan
    budget (see SCALE.md's frontier table and the ann_frontier_sweep
    query); clustered corpora reach 0.97@5 at 14% with
    MULTIPROBE_OFFSETS_H1. Output: (query_id, neighbor_id, bucket, sim,
    rank)."""
    offs = MULTIPROBE_OFFSETS_H2 if offsets is None else offsets
    return _topk_by_sim(
        lsh_candidates(corpus, queries, RP_N_PLANES, offs, id_col, vec_col), k
    )


def recall_at_k(exact: DataFrame, ann: DataFrame) -> float:
    """Fraction of the exact top-k (query_id, neighbor_id) pairs the ANN
    result recovered — THE quality number an ANN user asks first. Both
    inputs are top-k frames with query_id/neighbor_id columns; one
    broadcast join + two tiny counts."""
    e = exact.select("query_id", "neighbor_id")
    hits = e.join(
        F.broadcast(ann.select("query_id", "neighbor_id")),
        ["query_id", "neighbor_id"],
    ).count()
    total = e.count()
    # empty exact frame means NO data reached the evaluator — report the
    # failure (0.0), never a vacuous perfect score
    return hits / total if total else 0.0


def retrieve_quantized_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_candidates: int = 20,
    offsets: list[int] | None = None,
) -> DataFrame:
    """RETRIEVE stage of the retrieve→rerank pattern: multi-probe
    sign-LSH candidate generation scored with INT8-QUANTIZED dot
    products — the cheap first pass a billion-vector index runs (4×
    smaller vectors, integer arithmetic), accepting ~0.5% score noise
    that the rerank stage repairs.

    The quantized score is engine-portable by construction: integer dot
    (exact in 64-bit), times the two symmetric scales, over the exact
    float norms, rounded to 6 — the DuckDB oracle reproduces it
    bit-for-bit. Returns the top ``n_candidates`` per query with BOTH
    full-precision vectors carried along for the rerank stage
    (query_id, neighbor_id, qvec, cvec, retrieval_sim, retrieval_rank).

    Scale shape: same as topk_multiprobe_lsh — probes broadcast,
    candidate generation is an equi-join on the probe bucket (file-level
    pruning at scale), corpus never shuffles; the int8 columns would be
    the STORED index at 100 TB (the float vectors live in the rerank
    store, fetched only for the ~n_candidates winners)."""
    from movies_etl_spark.operators.curation import int8_quantize, int8_scale

    def prep(df, prefix):
        d = _double_vec(vec_col)
        sc = int8_scale(d)
        return df.select(
            F.col(id_col).alias(f"{prefix}id"),
            d.alias(f"{prefix}vec"),
            int8_quantize(d, sc).alias(f"{prefix}qv"),
            sc.alias(f"{prefix}scale"),
            l2norm_expr(vec_col).alias(f"{prefix}nrm"),
            rp_bucket(vec_col).cast("int").alias(f"{prefix}bucket"),
        )

    offs = MULTIPROBE_OFFSETS_H2 if offsets is None else offsets
    c = prep(corpus, "c")
    q = prep(queries, "q")
    probes = q.withColumn(
        "off", F.explode(F.array(*[F.lit(o) for o in offs]))
    ).select(
        F.col("qid").alias("query_id"),
        "qvec",
        "qqv",
        "qscale",
        "qnrm",
        F.col("qbucket").bitwiseXOR(F.col("off")).cast("int").alias("probe_bucket"),
    )
    idot = F.aggregate(
        F.zip_with(
            F.col("qqv"), F.col("cqv"), lambda x, y: x.cast("long") * y.cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    qsim = F.round(
        (idot.cast("double") * F.col("qscale") * F.col("cscale"))
        / (F.col("qnrm") * F.col("cnrm")),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("retrieval_sim"), F.asc("neighbor_id")
    )
    return (
        c.join(
            F.broadcast(probes),
            (F.col("cbucket") == F.col("probe_bucket"))
            & (F.col("cid") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("cid").alias("neighbor_id"),
            "qvec",
            "cvec",
            qsim.alias("retrieval_sim"),
        )
        .withColumn("retrieval_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("retrieval_rank") <= n_candidates)
    )


def rerank_topk(cands: DataFrame, k: int = 3) -> DataFrame:
    """RERANK stage: score the retrieved candidates with the EXPENSIVE
    model in an Arrow-batched Python worker (mapInPandas) and keep the
    top ``k`` per query by the reranked score.

    The scorer here is full-precision float64 cosine over the carried
    vector pair — deterministic arithmetic the DuckDB oracle replicates,
    so the whole retrieve→rerank chain sits under the driver's value
    gate. The marked block below is the CROSS-ENCODER SLOT: a real
    deployment replaces the cosine with a batched model call
    (tokenize(query,doc) → GPU forward pass → score), keeping the exact
    same contract — Arrow batch in, one score per row out — and the same
    plan shape (no shuffle added; the candidate frame is already
    ~n_candidates·|queries| rows, the model cost dominates and
    parallelizes per batch). Swap discipline as in multimodal.py's
    decode (a real container parse): the Spark-side
    plumbing (schema, batching, rank window) is real and tested; only
    the scorer body is swapped.

    Output: (query_id, neighbor_id, retrieval_sim, rerank_score, rank).
    """
    schema = (
        "query_id bigint, neighbor_id bigint, "
        "retrieval_sim double, rerank_score double"
    )

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.stack(pdf["qvec"].to_numpy()).astype(np.float64)
            c = np.stack(pdf["cvec"].to_numpy()).astype(np.float64)
            # --- CROSS-ENCODER SLOT: replace from here ---------------
            s = (q * c).sum(axis=1) / (
                np.linalg.norm(q, axis=1) * np.linalg.norm(c, axis=1)
            )
            # --- to here with a batched model forward pass -----------
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "retrieval_sim": pdf["retrieval_sim"],
                    "rerank_score": np.round(s, 6),
                }
            )

    scored = cands.select(
        "query_id", "neighbor_id", "retrieval_sim", "qvec", "cvec"
    ).mapInPandas(score, schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rerank_score"), F.asc("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)


def kmeans_train_assign(
    train: DataFrame,
    assign: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's with the train/assign SPLIT — the frozen-coarse-quantizer
    production pattern: centroids are learned once on a base corpus and
    daily batches are assigned to them in a single broadcast pass,
    without retraining (retraining would silently reshuffle every
    existing cell assignment and invalidate stored indexes). Training
    follows kmeans_assign exactly (same seeds, same quantized-mean
    iterations — kmeans_assign(c) ≡ kmeans_train_assign(c, c)); the
    final training centroids then assign ``assign``'s vectors. Returns
    (id, cell, d2 rounded 4)."""
    vt = train.select(id_col, _double_vec(vec_col).alias("vd"))
    cents = vt.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("cell"), F.col("vd").alias("centroid")
    )
    assigned = _assign_cells(vt, cents)
    for _ in range(iters - 1):
        cents = _recompute_centroids(assigned)
        assigned = _assign_cells(vt, cents)
    va = assign.select(id_col, _double_vec(vec_col).alias("vd"))
    return _assign_cells(va, _centroid_boundary(cents)).select(
        id_col, "cell", F.round(F.col("d2"), 4).alias("d2")
    )
