"""The MinHash band-bucket size guard (dedup.guard_band_buckets).

The 100 TB failure mode this guards: a boilerplate-heavy corpus (one
viral template duplicated across millions of pages) lands an entire
duplicate family in ONE (band_id, band_key) bucket, and the LSH
candidate self-join squares it — invisible at test SF, fatal at scale.
The guard mirrors the cosine path's MAX_COSINE_BLOCK_ROWS contract:
distributed, zero extra jobs, hard-fail with remediation.

These tests plant a mega-bucket (dozens of identical-shingle docs →
identical signatures → identical band keys) and assert the guard trips
on every entry path (batch, incremental, and via the guarded helper the
streaming path shares), and that passing corpora flow through with the
pair set unchanged.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from movies_etl_spark.operators import dedup as D

BASE_TEXT = (
    "subscribe to our newsletter for the latest updates and offers "
    "terms of service apply to all visitors of this site"
)


def _docs(spark, n_dups: int, n_distinct: int, start_id: int = 0):
    """n_dups copies of one template + n_distinct unique docs."""
    rows = [(start_id + i, BASE_TEXT) for i in range(n_dups)]
    rows += [
        (
            start_id + n_dups + i,
            f"unique document number {i} talks about topic {i * 7} "
            f"with several extra words {i * 13} to clear the shingle floor",
        )
        for i in range(n_distinct)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_guard_trips_on_mega_bucket(spark):
    corpus = _docs(spark, n_dups=60, n_distinct=5)
    sh = D.shingled(corpus, "text", "doc_id")
    pairs = D.candidate_pairs_minhash(sh, "doc_id", max_bucket_rows=50)
    with pytest.raises(Exception, match="band bucket"):
        pairs.count()


def test_guard_message_carries_remediation(spark):
    corpus = _docs(spark, n_dups=8, n_distinct=0)
    sh = D.shingled(corpus, "text", "doc_id")
    pairs = D.candidate_pairs_minhash(sh, "doc_id", max_bucket_rows=4)
    with pytest.raises(Exception, match="Exact-dedup identical documents"):
        pairs.count()


def test_guard_message_reports_truncated_count(spark):
    """The r9 capped form truncates every bucket at cap+1 rows BEFORE
    the aggregate (so the collect_list buffer is bounded at aggregation
    time — ADVICE r8 medium); the exact over-cap size is therefore
    unknowable by design and the failure message must say "at least
    cap+1", never a fabricated exact count."""
    corpus = _docs(spark, n_dups=30, n_distinct=0)
    sh = D.shingled(corpus, "text", "doc_id")
    pairs = D.candidate_pairs_minhash(sh, "doc_id", max_bucket_rows=4)
    with pytest.raises(Exception, match="at least 5"):
        pairs.count()


def test_guard_passes_under_cap_with_identical_pairs(spark):
    """At or under the cap the guard is a row-preserving no-op: the
    guarded pair set equals a guard-free recompute of the same join."""
    corpus = _docs(spark, n_dups=6, n_distinct=10)
    sh = D.shingled(corpus, "text", "doc_id")
    guarded = {
        (r.id_a, r.id_b)
        for r in D.candidate_pairs_minhash(
            sh, "doc_id", max_bucket_rows=24  # 6 dups × 4 bands per bucket ≤ 6
        ).collect()
    }
    ex = D.with_minhash_bands(D.shingled(corpus, "text", "doc_id"), "doc_id")
    a = ex.select(F.col("doc_id").alias("id_a"), "band_id", "band_key")
    b = ex.select(F.col("doc_id").alias("id_b"), "band_id", "band_key")
    unguarded = {
        (r.id_a, r.id_b)
        for r in a.join(b, ["band_id", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .collect()
    }
    assert guarded == unguarded
    # the planted family must actually collide (the trip tests above are
    # non-vacuous only if identical docs really share buckets)
    assert {(0, 1), (0, 5), (4, 5)} <= guarded


def test_incremental_guard_trips_when_delta_hits_hot_bucket(spark):
    base = _docs(spark, n_dups=40, n_distinct=3)
    delta = _docs(spark, n_dups=20, n_distinct=0, start_id=1000)
    index_bands = D.with_minhash_bands(D.shingled(base, "text", "doc_id"), "doc_id")
    delta_bands = D.with_minhash_bands(D.shingled(delta, "text", "doc_id"), "doc_id")
    pairs = D.incremental_candidate_pairs(
        index_bands, delta_bands, "doc_id", max_bucket_rows=50
    )
    with pytest.raises(Exception, match="band bucket"):
        pairs.count()


def test_incremental_guard_ignores_untouched_hot_buckets(spark):
    """A mega-bucket already in the index does NOT trip the guard when
    the delta never touches it — the guard is O(matched buckets), per
    the incremental contract, not a full index re-scan."""
    base = _docs(spark, n_dups=60, n_distinct=2)
    delta = spark.createDataFrame(
        [
            (
                5000 + i,
                f"delta journal entry {i} describes rivers {i * 11} and "
                f"mountain passes {i * 3} under shifting weather {i * 5}",
            )
            for i in range(4)
        ],
        "doc_id bigint, text string",
    )
    index_bands = D.with_minhash_bands(D.shingled(base, "text", "doc_id"), "doc_id")
    delta_bands = D.with_minhash_bands(D.shingled(delta, "text", "doc_id"), "doc_id")
    pairs = D.incremental_candidate_pairs(
        index_bands, delta_bands, "doc_id", max_bucket_rows=50
    )
    # must not raise despite the 60-row bucket in the index, and no pair
    # may touch the untouched template family (ids < 60)
    touched_template = pairs.filter((F.col("id_a") < 60) | (F.col("id_b") < 60))
    assert touched_template.count() == 0


def test_guard_helper_direct(spark):
    """guard_band_buckets alone: passes rows through unchanged under the
    cap, raises over it (the streaming path consumes the helper
    directly)."""
    corpus = _docs(spark, n_dups=5, n_distinct=3)
    bands = D.with_minhash_bands(D.shingled(corpus, "text", "doc_id"), "doc_id")
    ok = D.guard_band_buckets(bands, max_bucket_rows=5)
    assert ok.count() == bands.count()
    assert sorted(ok.columns) == sorted(bands.columns)
    with pytest.raises(Exception, match="band bucket"):
        D.guard_band_buckets(bands, max_bucket_rows=4).count()


def test_streaming_guard_trips_when_index_bucket_goes_hot(spark, tmp_path):
    """End-to-end through the real foreachBatch stream: a template
    family accumulating in the band index must trip the guard once the
    delta-touched bucket crosses the cap — the ingest-time form of the
    viral-boilerplate failure."""
    from movies_etl_spark.streaming import ops as S

    corpus = _docs(spark, n_dups=24, n_distinct=2)
    with pytest.raises(Exception, match="band bucket"):
        S.lsh_dedup_stream(
            spark,
            corpus,
            str(tmp_path / "lsh_trip"),
            n_chunks=3,
            max_bucket_rows=10,
        )


def test_streaming_guard_passes_under_cap(spark, tmp_path):
    """Same stream with the cap above the family size: completes and the
    near-dup family still collapses to its first-arrived member."""
    from movies_etl_spark.streaming import ops as S

    corpus = _docs(spark, n_dups=6, n_distinct=3)
    out = S.lsh_dedup_stream(
        spark,
        corpus,
        str(tmp_path / "lsh_pass"),
        n_chunks=2,
        max_bucket_rows=50,
    )
    survivors = {r.doc_id for r in out.collect()}
    assert 0 in survivors  # first template doc survives
    assert not (survivors & set(range(1, 6)))  # later copies dropped
    assert {6, 7, 8} <= survivors  # distinct docs untouched


def test_cc_distributed_nonconvergence_raises(spark):
    """r18: the distributed CC loop must fail LOUD when a component's
    diameter exceeds max_iter (label propagation hops one edge per
    round) — previously it returned partially-propagated labels
    silently. Chain of 12 nodes, max_iter=3 → raise; max_iter=20 →
    exact chain labels."""
    import pytest
    from pyspark.sql import functions as F

    from movies_etl_spark.operators import dedup as D

    edges = spark.range(0, 11).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    with pytest.raises(ValueError, match="did not converge"):
        D.connected_components(edges, max_iter=3, max_local_edges=0)
    ok = D.connected_components(edges, max_iter=20, max_local_edges=0)
    rows = {r["node"]: r["component"] for r in ok.collect()}
    assert rows == {i: 0 for i in range(12)}


def test_cc_distributed_pointer_doubling_long_chain(spark):
    """r18: pointer-doubling converges a 1000-node chain (diameter 999)
    within the default max_iter=20 — neighbor-min alone would need 1000
    rounds and trip the non-convergence guard. Labels must be exact."""
    from pyspark.sql import functions as F

    from movies_etl_spark.operators import dedup as D

    edges = spark.range(0, 999).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    out = D.connected_components(edges, max_local_edges=0)
    rows = {r["node"]: r["component"] for r in out.collect()}
    assert rows == {i: 0 for i in range(1000)}
    assert D.LAST_CC_ROUNDS <= 15  # measured 11; O(log d), not O(d)
