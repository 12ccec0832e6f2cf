"""Recall@k for the ANN paths, measured against the exact brute-force
top-k (the one quality number an ANN user asks first).

Context the floors encode: the synthetic embeddings are ISOTROPIC
(near-random unit vectors; planted near-dup pairs top out around
cosine 0.5), and on isotropic data recall ≈ fraction-of-corpus-scanned
is the ceiling for ANY pruning index — there is no neighborhood
structure to exploit. So the floors below are honest measurements of
the recall/scan dial, not aspirational constants:

  single-probe LSH  (1/256 buckets,  ~0.4% scan) → recall@5 ≈ 0.00
  IVF nprobe=1      (1/10 cells,      ~10% scan) → recall@5 ≈ 0.10
  multi-probe r=2   (37/256 buckets,  ~15% scan) → recall@5 ≈ 0.35

On real clustered embeddings the same machinery reaches high recall at
low scan; the assertions here pin (a) measured floors with margin,
(b) the monotonicity of the dial, and (c) that the vectorized
brute-force twin is EXACT (recall 1.0 by construction).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from movies_etl_spark.operators import similarity as SIM
from movies_etl_spark.sources import readers

#: recall floors are corpus-size-dependent; pin the sf the numbers were
#: measured at instead of the (smaller) default test SF.
RECALL_SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{RECALL_SF_DIR}/embeddings.parquet"),
    reason="sf0.01 testdata not present",
)


@pytest.fixture(scope="module")
def recall_frames(spark):
    e = readers.load_table(spark, RECALL_SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    exact = SIM.topk_bruteforce(e, q).cache()
    exact.count()
    return e, q, exact


def test_vectorized_bruteforce_is_exact(spark, recall_frames):
    e, q, exact = recall_frames
    vec = SIM.topk_bruteforce_vectorized(e, q)
    assert SIM.recall_at_k(exact, vec) == 1.0


def test_multiprobe_recall_floor(spark, recall_frames):
    e, q, exact = recall_frames
    mp = SIM.topk_multiprobe_lsh(e, q, k=5)
    assert SIM.recall_at_k(exact, mp) >= 0.2  # measured 0.35


def test_ivf_recall_floor(spark, recall_frames):
    e, q, exact = recall_frames
    ivf = SIM.topk_ivf(e, q, k=5)
    assert SIM.recall_at_k(exact, ivf) >= 0.05  # measured 0.125


def test_ivf_nprobe_dial(spark, recall_frames):
    """nprobe is IVF's recall dial: probing 3 cells must strictly beat
    probing 1 and clear an absolute floor (measured 0.425 at sf0.01)."""
    e, q, exact = recall_frames
    r1 = SIM.recall_at_k(exact, SIM.topk_ivf(e, q, k=5, nprobe=1))
    r3 = SIM.recall_at_k(exact, SIM.topk_ivf(e, q, k=5, nprobe=3))
    assert r3 > r1
    assert r3 >= 0.2


def test_multiprobe_beats_single_probe(spark, recall_frames):
    """The probe radius is a real recall dial: Hamming-2 multi-probe must
    strictly dominate single-probe (offset {0}) on the same signatures."""
    e, q, exact = recall_frames
    single = SIM.topk_multiprobe_lsh(e, q, k=5, offsets=[0])
    multi = SIM.topk_multiprobe_lsh(e, q, k=5)
    assert SIM.recall_at_k(exact, multi) > SIM.recall_at_k(exact, single)


def test_multiprobe_scan_fraction_bounded(spark, recall_frames):
    """The recall gain must come from a BOUNDED candidate set: at uniform
    occupancy 37/256 probes touch ~14% of the corpus; assert the actual
    candidate count stays under 30% per query."""
    e, q, _ = recall_frames
    n_corpus = e.count()
    n_queries = q.count()
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        SIM.rp_bucket("embedding").cast("int").alias("bucket"),
    )
    probes = (
        q.select(
            F.col("vec_id").alias("query_id"),
            SIM.rp_bucket("embedding").cast("int").alias("qbucket"),
        )
        .withColumn(
            "off", F.explode(F.array(*[F.lit(o) for o in SIM.MULTIPROBE_OFFSETS_H2]))
        )
        .select(
            "query_id",
            F.col("qbucket").bitwiseXOR(F.col("off")).cast("int").alias("probe_bucket"),
        )
    )
    n_cand = c.join(
        F.broadcast(probes), c.bucket == probes.probe_bucket
    ).count()
    assert n_cand / (n_corpus * n_queries) < 0.30


def test_plane_family_is_prefix_nested(spark):
    """rp_planes_n must extend, never replace, the 8-plane family:
    planes 0..7 of any wider request are exactly RP_PLANES (so every
    frontier config's signature is a prefix of the widest one — the
    property the sweep's single-signature scan relies on), and the
    offset enumerator gives the H1/H2 probe sets in the order the
    oracles' literal lists were first written: the query's own bucket,
    then one bit, then each bit pair i < j."""
    assert SIM.rp_planes_n(16)[:8] == SIM.RP_PLANES
    h1 = [0] + [1 << i for i in range(8)]
    h2 = h1 + [(1 << i) | (1 << j) for i in range(8) for j in range(i + 1, 8)]
    assert SIM.multiprobe_offsets(8, 1) == SIM.MULTIPROBE_OFFSETS_H1 == h1
    assert SIM.multiprobe_offsets(8, 2) == SIM.MULTIPROBE_OFFSETS_H2 == h2


def test_rp_bucket_n_str_matches_column(spark, recall_frames):
    """The single-parse bucket column matches an independent python
    left fold over doubles at the default width and at width 16 (plane
    dot rounded to 6, sign test per bit), and so do the fold kernels
    dot_expr, l2norm_expr and cosine_expr."""
    import math

    from movies_etl_spark.operators import dedup as D

    e, _, _ = recall_frames

    def fold(xs):
        acc = 0.0
        for x in xs:
            acc += x
        return acc

    rows = e.select(
        F.col("embedding").alias("a"),
        F.reverse(F.col("embedding")).alias("b"),
        SIM.rp_bucket("embedding").cast("int").alias("b8"),
        SIM.rp_bucket("embedding", 16).cast("int").alias("b16"),
        D.dot_expr("a", "b").alias("d"),
        D.l2norm_expr("a").alias("n"),
        D.cosine_expr("a", "b").alias("c"),
    ).collect()
    planes = SIM.rp_planes_n(16)
    for r in rows:
        a, b = [float(x) for x in r["a"]], [float(x) for x in r["b"]]
        bits = [
            1 << j
            for j, p in enumerate(planes)
            if round(fold(x * y for x, y in zip(a, p)), 6) >= 0
        ]
        assert r["b8"] == sum(x for x in bits if x < 1 << 8), r
        assert r["b16"] == sum(bits), r
        d = fold(x * y for x, y in zip(a, b))
        na = math.sqrt(fold(x * x for x in a))
        nb = math.sqrt(fold(x * x for x in b))
        assert (r["d"], r["n"], r["c"]) == (d, na, d / (na * nb)), r


def test_frontier_operating_point_floor(spark, recall_frames):
    """The r9 isotropic operating point (planes=8, radius=3) must clear
    the ≥0.6-usability bar the frontier sweep selected it for at sf0.1
    (measured 0.625 there; 0.55 at this sf0.01 fixture — floor set
    under both), and radius must stay a monotone recall dial."""
    e, q, exact = recall_frames
    r2, r3, r4 = (
        SIM.recall_at_k(
            exact,
            SIM.topk_multiprobe_lsh(
                e, q, offsets=SIM.multiprobe_offsets(8, r)
            ),
        )
        for r in (2, 3, 4)
    )
    assert r3 >= 0.45
    assert r4 >= 0.7
    assert r2 <= r3 <= r4


def test_clustered_fixture_high_recall_low_scan(spark):
    """The isotropic floors above are a property of the DATA, not the
    index: on the planted deterministic cluster fixture (8 tight
    clusters, within-cluster cosine ≈ 0.97 — the shape real sentence
    embeddings have) the SAME multi-probe machinery at the CHEAPER
    Hamming-1 probe set must reach recall@5 ≥ 0.8 while scanning under
    20% of the corpus (measured: 0.975 recall at a 13.8% scan — ~3× the
    isotropic radius-2 recall at equal scan fraction)."""
    e = readers.load_table(spark, RECALL_SF_DIR, "embeddings")
    cl = SIM.clustered_fixture(e).cache()
    n_corpus = cl.count()
    q = cl.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16))
    n_queries = q.count()
    exact = SIM.topk_bruteforce(cl, q)
    ann = SIM.topk_multiprobe_lsh(
        cl, q, k=5, offsets=SIM.MULTIPROBE_OFFSETS_H1
    )
    assert SIM.recall_at_k(exact, ann) >= 0.8
    # scan bound: count ALL candidates the probe join surfaces
    n_cand = SIM.topk_multiprobe_lsh(
        cl, q, k=10**9, offsets=SIM.MULTIPROBE_OFFSETS_H1
    ).count()
    assert n_cand / (n_corpus * n_queries) < 0.20
    cl.unpersist()


def test_clustered_ivf_trained_quantizer_operating_point(spark):
    """The r11 family-unification claim (VERDICT r10 #5): on the
    clustered fixture the TRAINED-quantizer IVF at nprobe=1 must meet
    or beat the clustered LSH h1 operating point on BOTH axes — recall
    at least as high, scan fraction no worse. Measured at this sf0.01
    fixture: IVF np1 recall 1.000 at 12.3% scan vs LSH h1 0.975 at
    13.9% (the frontier sweep publishes the same rows under the
    driver's value gate; this is the independent primitive-level
    witness). Floors set with margin."""
    e = readers.load_table(spark, RECALL_SF_DIR, "embeddings")
    cl = SIM.clustered_fixture(e).cache()
    n_corpus = cl.count()
    q = cl.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16))
    n_queries = q.count()
    exact = SIM.topk_bruteforce(cl, q)

    # train the coarse quantizer on the clustered corpus (Lloyd's k=8)
    assigned = SIM.kmeans_assign(cl, k=8).select("vec_id", "cell")
    corpus_cells = cl.join(assigned, "vec_id")
    ivf = SIM.topk_ivf(corpus_cells, q, k=5, nprobe=1, label_col="cell")
    assert SIM.recall_at_k(exact, ivf) >= 0.9  # measured 1.0

    # scan bound: nprobe=1 touches one cell per query; with 8 balanced
    # trained cells that is ~1/8 of the corpus — under the 14% the
    # clustered LSH h1 point costs
    n_cand = SIM.topk_ivf(
        corpus_cells, q, k=10**9, nprobe=1, label_col="cell"
    ).count()
    assert n_cand / (n_corpus * n_queries) < 0.14
    cl.unpersist()


def test_ann_tuned_selects_cheapest_meeting_arm(spark):
    """similarity_ann_tuned (r17): the tuner must select the trained-
    quantizer IVF np1 arm on the clustered fixture — at this SF it is
    the cheapest config meeting the 0.9 target (measured: recall 1.0 at
    a ~12.3% scan vs LSH h1's 0.975 at 13.9%) — and its emitted top-5
    must BE the exact neighbors (recall 1.0 means the retrieval set
    equals brute force, checked row-for-row as an independent witness
    beside the replay oracle)."""
    from movies_etl_spark.plans.queries_ext import q_similarity_ann_tuned

    out = q_similarity_ann_tuned(spark, RECALL_SF_DIR).cache()
    sel = out.select("family", "cfg", "recall").distinct().collect()
    assert len(sel) == 1
    assert (sel[0]["family"], sel[0]["cfg"]) == ("ivf", "np1")
    assert sel[0]["recall"] >= 0.9  # measured 1.0 at sf0.01
    e = readers.load_table(spark, RECALL_SF_DIR, "embeddings")
    cl = SIM.clustered_fixture(e)
    q = cl.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16))
    exact = SIM.topk_bruteforce(cl, q).select("query_id", "neighbor_id")
    got = out.select("query_id", "neighbor_id")
    assert got.count() == exact.count()
    assert got.exceptAll(exact).count() == 0
    out.unpersist()


def test_vectorized_probe_collect_cap(spark, recall_frames):
    """VERDICT r17 #4: the probe-side collect is capped — an over-cap
    query frame raises with remediation instead of silently collecting;
    an at-cap frame still runs (the guard is exclusive)."""
    e, q, _ = recall_frames
    n_q = q.count()  # 8
    with pytest.raises(ValueError, match="max_local_queries"):
        SIM.topk_bruteforce_vectorized(e, q, max_local_queries=n_q - 1)
    # exactly at cap: allowed, and still exact
    at_cap = SIM.topk_bruteforce_vectorized(e, q, max_local_queries=n_q)
    assert SIM.recall_at_k(recall_frames[2], at_cap) == 1.0
