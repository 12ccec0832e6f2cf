"""Batch property tests: a seeded generator produces hundreds of messy
inputs per family (money / date / runtime grammar + mutations), all
checked in ONE Spark round-trip against the independent Python oracle
from test_expr_unit."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from movies_etl_spark.functions import expr as E
from tests.test_expr_unit import _oracle_money

rng = random.Random(42)


def _gen_money(n=300):
    out = []
    for _ in range(n):
        kind = rng.randrange(8)
        amt = round(rng.uniform(0.1, 999.9), rng.randrange(3))
        if kind == 0:
            out.append(f"${amt} million")
        elif kind == 1:
            out.append(f"${amt} billion")
        elif kind == 2:
            out.append(f"${rng.randrange(1, 999)},{rng.randrange(0, 999):03d},{rng.randrange(0, 999):03d}")
        elif kind == 3:
            lo = round(amt / 2, 1)
            out.append(f"${lo}–{amt} million")
        elif kind == 4:
            out.append(f"${amt} milion")  # misspelling
        elif kind == 5:
            out.append(rng.choice(["N/A", "unknown", "TBD", "", "$", "$x million"]))
        elif kind == 6:
            out.append(f"  ${amt}  MILLION ")  # case + spacing
        else:
            out.append(f"US$ {amt} million gross")  # prefix noise
    return out


def test_money_property_batch(spark):
    cases = _gen_money()
    df = spark.createDataFrame([(s,) for s in cases], "s string")
    got = [
        (r["s"], r["v"])
        for r in df.select("s", E.parse_money_column(F.col("s")).alias("v")).collect()
    ]
    for s, v in got:
        want = _oracle_money(s)
        if want is None:
            assert v is None, f"{s!r}: {v} != None"
        else:
            assert v == pytest.approx(want), f"{s!r}: {v} != {want}"


def _gen_runtime(n=200):
    out = []
    for _ in range(n):
        kind = rng.randrange(5)
        q = rng.randrange(1, 240)
        h = rng.randrange(1, 5)
        m = rng.randrange(0, 60)
        out.append(
            [f"{q} minutes", f"{h} hours {m} minutes", f"{h} hr",
             f"approx. {q} min", f"{h}h {m}m"][kind]
        )
    return out


def test_runtime_property_batch(spark):
    import re

    def oracle(s):
        m = re.search(r"(\d+)\s*ho?u?r?s?\s*(\d*)|(\d+)\s*m", s)
        if not m:
            return 0.0
        g1 = float(m.group(1)) if m.group(1) else 0.0
        g2 = float(m.group(2)) if m.group(2) else 0.0
        g3 = float(m.group(3)) if m.group(3) else 0.0
        return g1 * 60 + g2 if g3 == 0 else g3

    cases = _gen_runtime()
    df = spark.createDataFrame([(s,) for s in cases], "s string")
    got = [
        (r["s"], r["v"])
        for r in df.select(
            "s", E.parse_running_time(F.col("s")).alias("v")
        ).collect()
    ]
    for s, v in got:
        assert v == pytest.approx(oracle(s)), f"{s!r}"


def test_vectorized_topk_matches_fold_twin(spark, sf_dir):
    """The BLAS fast path must retrieve the same neighbor sets as the
    oracle-gated fold implementation (sims may differ in the last ulp)."""
    import __spark_entry__ as m

    qs = m.queries()
    fast = qs["similarity_topk_vectorized"](spark, sf_dir).toPandas()
    ref = qs["similarity_topk"](spark, sf_dir).toPandas()
    a = set(zip(fast.query_id, fast.neighbor_id))
    b = set(zip(ref.query_id, ref.neighbor_id))
    assert a == b


def test_vectorized_cosine_pairs_match_fold_twin(spark, sf_dir):
    import __spark_entry__ as m

    qs = m.queries()
    fast = qs["dedup_embedding_cosine_vectorized"](spark, sf_dir).toPandas()
    ref = qs["dedup_embedding_cosine"](spark, sf_dir).toPandas()
    a = set(zip(fast.id_a, fast.id_b))
    b = set(zip(ref.id_a, ref.id_b))
    assert a == b


def test_delta_cosine_pairs_match_filtered_full_gram(spark):
    """The delta-aware kernel must emit EXACTLY the full-gram kernel's
    pair set restricted to not-both-existing (id_b >= cut, since ids
    sort ascending within a pair) — including sims — across the edge
    shapes: a block with no delta rows (emits nothing), an all-delta
    block (pure upper triangle), and a mixed block. A carried column
    rides with each member on both paths."""
    from movies_etl_spark.operators.dedup import cosine_pairs_vectorized

    rows = []
    rng_vals = [0.3, 1.7, 0.9, 2.2, 1.1, 0.5, 1.9, 0.2]
    # block 0: mixed (ids 0-5, cut=3); block 1: all existing (emits
    # nothing); block 2: all delta (pure upper triangle)
    for i in range(6):
        rows.append((i, [rng_vals[i], rng_vals[(i + 3) % 8], 1.0], 0))
    for i in range(10, 13):
        rows.append((i, [rng_vals[i % 8], 0.5, 2.0], 1))
    for i in range(20, 24):
        rows.append((i, [1.0, rng_vals[i % 8], 0.1], 2))
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    ).withColumn("w", F.col("vec_id") * 10)

    def pairs_at(cut):
        full = cosine_pairs_vectorized(
            df, threshold=-1.0, carry_col="w"
        ).toPandas()
        full = full[full.id_b >= cut]
        delta = cosine_pairs_vectorized(
            df, threshold=-1.0, carry_col="w", cut=cut
        ).toPandas()
        for got in (full, delta):
            assert (got.w_a == got.id_a * 10).all()
            assert (got.w_b == got.id_b * 10).all()
        a = sorted(map(tuple, full[["id_a", "id_b", "label", "sim"]].values))
        b = sorted(map(tuple, delta[["id_a", "id_b", "label", "sim"]].values))
        assert a == b, (cut, a[:5], b[:5])
        return len(b)

    # cut=3: block 0 is mixed (existing 0-2, delta 3-5); blocks 1 and 2
    # are all delta (pure upper triangles)
    assert pairs_at(3) == (15 - 3) + 3 + 6  # block0 minus its e×e + b1 + b2
    # cut=15: blocks 0 and 1 are all existing (emit nothing); block 2 is
    # all delta
    assert pairs_at(15) == 4 * 3 / 2


def test_delta_cosine_guard_allows_big_base_small_delta(spark):
    """The delta kernel's guard bounds the rectangular gram's MEMORY
    (|delta|·|block| ≤ cap²), so the legitimate incremental regime — a
    block far over the full-gram row cap with a tiny delta — scores
    fine, while a delta too large for the envelope still fails with the
    remediation."""
    import pytest

    from movies_etl_spark.operators.dedup import cosine_pairs_vectorized

    rows = [(i, [float(i % 7), 1.0], 0) for i in range(30)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    # 30 rows, 2 delta: 2*30=60 ≤ 8²=64 passes even though 30 > 8
    ok = cosine_pairs_vectorized(
        df, threshold=-1.0, max_block_rows=8, cut=28
    )
    assert ok.count() == 2 * 28 + 1  # delta×existing + the delta pair
    # 30 delta rows: 30*30 > 64 fails loudly
    bad = cosine_pairs_vectorized(
        df, threshold=-1.0, max_block_rows=8, cut=0
    )
    with pytest.raises(Exception, match="Sub-bucket the block key"):
        bad.collect()


def test_delta_cosine_absolute_block_bound(spark):
    """ADVICE r10 witness: with a TINY delta the rectangular-gram bound
    alone admits an arbitrarily large block — the absolute bound
    (|block|·dim ≤ cap² elements) must fail it, because the stacked
    n×dim matrix materializes in-task regardless of delta size."""
    import pytest

    from movies_etl_spark.operators.dedup import cosine_pairs_vectorized

    # 40 rows × dim 2 = 80 elements > 8² = 64, but 1 delta × 40 = 40 ≤ 64
    # passes the gram bound — only the absolute bound catches it
    rows = [(i, [float(i % 7), 1.0], 0) for i in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    bad = cosine_pairs_vectorized(
        df, threshold=-1.0, max_block_rows=8, cut=39
    )
    with pytest.raises(Exception, match="block matrix itself"):
        bad.collect()


def test_cosine_block_guard_fires_on_oversize_block(spark):
    """The O(b²) block cap must be EXECUTABLE: a block over max_block_rows
    fails the task with the remediation in the message instead of
    silently scoring a cluster-absorbing gram matrix."""
    import pytest

    from movies_etl_spark.operators.dedup import cosine_pairs_vectorized

    rows = [(i, [float(i % 7), 1.0], 0) for i in range(12)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )
    guarded = cosine_pairs_vectorized(df, threshold=-1.0, max_block_rows=10)
    with pytest.raises(Exception, match="Sub-bucket the block key"):
        guarded.collect()
    # under the cap the same frame scores fine
    ok = cosine_pairs_vectorized(df, threshold=-1.0, max_block_rows=12)
    assert ok.count() == 12 * 11 / 2


def test_connected_components_empty_edges_exits_first_round(spark):
    """F.sum over an empty labels frame is NULL: without the coalesce the
    convergence check never fires and the loop runs all max_iter rounds.
    Regression: empty edge list must terminate after one round and return
    an empty labels frame — on BOTH execution paths (the r13 local path
    takes it trivially; the forced distributed path needs the coalesce)."""
    from movies_etl_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert connected_components(edges, max_iter=50).count() == 0
    assert (
        connected_components(edges, max_iter=50, max_local_edges=0).count()
        == 0
    )


def test_connected_components_local_distributed_parity(spark):
    """r13 execution split (the r12 BPE playbook applied to the curation
    build side): the count-guarded driver union-find and the over-cap
    distributed label-propagation loop must return IDENTICAL labels.
    Asserted on a seeded random multigraph (dense enough that the
    distributed loop needs many propagation rounds) plus the adversarial
    shapes: a self-loop singleton, a diameter-3 chain, and duplicate /
    reversed edges."""
    import random

    from movies_etl_spark.operators import dedup as D

    rng = random.Random(13)
    edges = [(rng.randint(0, 60), rng.randint(0, 60)) for _ in range(120)]
    edges += [(100, 100), (200, 201), (201, 202), (202, 203), (201, 200)]
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")

    loc = {
        (r["node"], r["component"])
        for r in D.connected_components(df).collect()
    }
    assert D.LAST_CC_MODE == "local" and D.LAST_CC_ROUNDS == 0
    dist = {
        (r["node"], r["component"])
        for r in D.connected_components(df, max_local_edges=0).collect()
    }
    assert D.LAST_CC_MODE == "distributed" and D.LAST_CC_ROUNDS > 1
    assert loc == dist and len(loc) > 0
    # canonical label is the min member id: every component labels itself
    comps = {c for _, c in loc}
    assert all(
        c == min(n for n, cc in loc if cc == c) for c in comps
    )
    assert (100, 100) in loc and (203, 200) in loc

    # admission boundary: count == cap stays local (<=), cap − 1 diverts
    n_edges = df.count()
    D.connected_components(df, max_local_edges=n_edges).collect()
    assert D.LAST_CC_MODE == "local"
    D.connected_components(df, max_local_edges=n_edges - 1).collect()
    assert D.LAST_CC_MODE == "distributed"


def test_connected_components_null_edges_aligned(spark):
    """ADVICE r13 #2: a NULL edge endpoint used to crash the local
    union-find (None-vs-int comparison) while the distributed loop
    silently dropped it via join semantics — the two paths diverged on
    malformed input. Null endpoints are now filtered at e0 construction,
    so BOTH paths see the same well-defined edge list and return
    identical labels; an all-null edge list is the empty graph."""
    from movies_etl_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None), (None, None), (2, 5), (7, 7)],
        "id_a bigint, id_b bigint",
    )
    loc = {
        (r["node"], r["component"])
        for r in D.connected_components(df).collect()
    }
    assert D.LAST_CC_MODE == "local"
    dist = {
        (r["node"], r["component"])
        for r in D.connected_components(df, max_local_edges=0).collect()
    }
    assert D.LAST_CC_MODE == "distributed"
    assert loc == dist
    # null-endpoint edges contribute nothing; 3/4 never appear as nodes
    assert loc == {(1, 1), (2, 1), (5, 1), (7, 7)}

    all_null = spark.createDataFrame(
        [(None, 1), (2, None)], "id_a bigint, id_b bigint"
    )
    assert D.connected_components(all_null).count() == 0


def test_approx_stats_within_bounds(spark, sf_dir, duck):
    """Independent witness for the approx_stats error-bounds oracle
    (r8): the RAW sketch estimates (which the query no longer emits —
    it emits exact values + bounded-error verdicts) checked against
    DUCKDB's exact statistics, so the bound audit never replays the
    query's own Spark-side exact aggregation. HLL++ ±5% of exact;
    t-digest median within 1% of exact value."""
    from pyspark.sql import functions as F

    from movies_etl_spark.plans.registry import _t

    raw = (
        _t(spark, sf_dir, "lineitem")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.01).alias("a"),
            F.approx_count_distinct("l_partkey", rsd=0.01).alias("b"),
            F.percentile_approx(
                "l_extendedprice", F.lit(0.5), F.lit(10000)
            ).alias("med"),
        )
        .collect()[0]
    )
    exact = duck.execute(
        """SELECT count(DISTINCT l_orderkey) a, count(DISTINCT l_partkey) b,
                  quantile_cont(l_extendedprice, 0.5) med FROM lineitem"""
    ).fetchone()
    assert abs(raw["a"] - exact[0]) / exact[0] < 0.05
    assert abs(raw["b"] - exact[1]) / exact[1] < 0.05
    assert abs(raw["med"] - exact[2]) / exact[2] < 0.01
    # and the query's own verdict row agrees: all three bounds hold
    import __spark_entry__ as m

    row = m.queries()["approx_stats"](spark, sf_dir).collect()[0]
    assert row["orders_within_2pct"] and row["parts_within_2pct"]
    assert row["median_within_rank_eps"]


def test_table_fingerprint_order_invariant(spark, sf_dir):
    """The bit_xor fingerprint's whole claim is order-insensitivity:
    recomputing it after an adversarial repartition+shuffle of the input
    must produce identical fingerprints per group (parity with the
    oracle cannot test this — DuckDB sees only one physical order)."""
    import __spark_entry__ as m

    base = {
        r["o_orderstatus"]: (r["n_rows"], r["fingerprint"])
        for r in m.queries()["table_fingerprint"](spark, sf_dir).collect()
    }
    from pyspark.sql import functions as F

    from movies_etl_spark.plans.registry import _t

    o = _t(spark, sf_dir, "orders").repartition(7, F.col("o_orderkey"))
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        F.col("o_orderdate").cast("date").cast("string"),
        F.col("o_orderpriority"),
    )
    r = o.select(
        "o_orderstatus",
        F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("long").alias("h"),
    )
    shuffled = {
        row["o_orderstatus"]: (row["n_rows"], row["fingerprint"])
        for row in r.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("fingerprint"),
        )
        .collect()
    }
    assert base == shuffled


def test_weighted_sample_prefers_heavy_docs(spark, sf_dir):
    """A-ES with weight = n_chars must actually bias the sample: the
    sampled docs' mean length exceeds the corpus mean (deterministic
    given the hash-derived uniforms; a key formula regression — e.g.
    dropping the 1/w exponent — flips this)."""
    import __spark_entry__ as m
    from pyspark.sql import functions as F

    from movies_etl_spark.plans.registry import _t

    sample = m.queries()["weighted_sample_topk"](spark, sf_dir)
    mean_sample = sample.agg(F.avg("n_chars")).first()[0]
    mean_corpus = (
        _t(spark, sf_dir, "documents").agg(F.avg("n_chars")).first()[0]
    )
    assert mean_sample > mean_corpus


def test_chunking_covers_every_token_batch(spark):
    """Sliding-window chunking invariants the oracle-parity check cannot
    see (it compares hashes, not coverage), over a seeded batch of
    adversarial token counts (0, 1, boundary multiples of the stride,
    off-by-ones): every token position falls in >= 1 chunk, consecutive
    chunks overlap by exactly chunk-stride tokens (except a possibly
    shorter tail), and chunk token counts reconstruct the document
    length as n_chunks*stride + tail adjustments."""
    import math

    sizes = [0, 1, 39, 40, 41, 49, 50, 51, 79, 80, 81, 89, 90, 91, 120, 173]
    rows = [
        (i, " ".join(f"t{i}x{j}" for j in range(n))) for i, n in enumerate(sizes)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = df.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(split(text, ' ')), 40), "
                "st -> named_struct('st', st, "
                "'n', size(slice(split(text, ' '), st, 50))))"
            )
        ).alias("c"),
    ).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append((r["c"]["st"], r["c"]["n"]))
    for i, n in enumerate(sizes):
        toks = n if n else 1  # split('') yields one empty token
        got = sorted(by_doc[i])
        # chunk starts are exactly 1, 41, 81, ... up to the token count
        assert [st for st, _ in got] == list(range(1, toks + 1, 40)), (i, got)
        covered = set()
        for st, cn in got:
            assert 1 <= cn <= 50
            covered.update(range(st, st + cn))
        assert covered == set(range(1, toks + 1)), (i, n)


def test_oov_rate_extremes(spark, sf_dir):
    """OOV-rate boundary semantics: a document made ONLY of top-vocab
    terms scores 0.0, one made only of novel terms scores 1.0 — checked
    by planting both shapes and running the same vocab construction as
    the query (top-20 by corpus frequency)."""
    from movies_etl_spark.sources import readers

    base = readers.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = base.select(F.explode(F.split("text", " ")).alias("term"))
    top = [
        r["term"]
        for r in tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), "term")
        .limit(20)
        .collect()
    ]
    in_vocab_doc = " ".join(top[:5] * 3)
    novel_doc = "zzq1 zzq2 zzq3 zzq1"
    probe = spark.createDataFrame(
        [(900001, in_vocab_doc), (900002, novel_doc)], "doc_id long, text string"
    )
    vocab = spark.createDataFrame([(t,) for t in top], "term string").withColumn(
        "in_vocab", F.lit(1)
    )
    j = (
        probe.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
                / F.count(F.lit(1)),
                4,
            ).alias("oov_rate")
        )
    )
    rates = {r["doc_id"]: r["oov_rate"] for r in j.collect()}
    assert rates[900001] == 0.0
    assert rates[900002] == 1.0


def test_containment_dominates_jaccard(spark, sf_dir):
    """For every candidate pair, containment ≥ Jaccard by definition
    (min(|A|,|B|) ≤ |A∪B|), and the planted truncated copies must be
    exactly the case containment catches: near-1.0 containment with
    lower Jaccard."""
    import __spark_entry__ as m

    out = m.queries()["dedup_containment"](spark, sf_dir).toPandas()
    assert len(out) > 0
    assert (out.containment >= out.jac - 1e-9).all()
    planted = out[(out.id_b - out.id_a) == 1000000]
    assert len(planted) > 0, "planted truncations must surface"
    assert (planted.containment >= 0.98).all()
    assert (planted.jac < planted.containment).all()


def test_entropy_profile_bounds(spark, sf_dir):
    """0 ≤ H ≤ log2(k) and the normalized entropy is in (0, 1]."""
    import math

    import __spark_entry__ as m

    out = m.queries()["entropy_profile"](spark, sf_dir).toPandas()
    assert len(out) == 3
    for _, r in out.iterrows():
        assert 0.0 <= r.entropy_bits <= math.log2(r.n_distinct) + 1e-6, r
        assert 0.0 < r.norm_entropy <= 1.0 + 1e-9, r


def test_winsorize_clamps_within_percentiles(spark, sf_dir):
    """Winsorized values must lie inside each group's [p05, p95] band
    (the band recomputed here from the same exact-percentile agg)."""
    import __spark_entry__ as m
    from pyspark.sql import functions as F

    from movies_etl_spark.sources import readers

    out = m.queries()["winsorize_robust_scale"](spark, sf_dir)
    ev = readers.load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.05)"), 6).alias("p05"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
    )
    bad = (
        out.join(s, "event_type")
        .filter(
            (F.col("value_wins") < F.col("p05") - 1e-9)
            | (F.col("value_wins") > F.col("p95") + 1e-9)
        )
        .count()
    )
    assert bad == 0


def test_kfold_exact_balance_per_stratum(spark, sf_dir):
    """Within every language stratum the fold sizes differ by at most 1
    — the exact-balance property plain hash bucketing cannot give."""
    import __spark_entry__ as m

    out = m.queries()["stratified_kfold_assign"](spark, sf_dir).toPandas()
    sizes = out.groupby(["lang", "fold"]).size()
    for lang, grp in sizes.groupby(level=0):
        assert grp.max() - grp.min() <= 1, (lang, dict(grp))


def test_triangle_count_matches_orientation_free_ground_truth(spark, sf_dir):
    """The degree-oriented count must equal the orientation-FREE 3-way
    edge join (every triangle a<b<c by raw id). Guards the wedge-order
    bug class: ordering wedge endpoints by raw id while closing edges
    are oriented by (degree, id) silently dropped ~50% of triangles —
    and the oracle shared the formulation, so only a ground-truth
    comparison can catch it."""
    import __spark_entry__ as m
    from pyspark.sql import functions as F

    from movies_etl_spark.sources import readers

    got = m.queries()["triangle_count"](spark, sf_dir).collect()[0]

    li = readers.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    e = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) -> "
                    "transform(slice(parts, i + 2, size(parts)), "
                    "y -> named_struct('pa', x, 'pb', y))))"
                )
            ).alias("p")
        )
        .select("p.pa", "p.pb")
        .distinct()
        .cache()
    )
    e1 = e.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    e2 = e.select(F.col("pa").alias("b"), F.col("pb").alias("c"))
    e3 = e.select(F.col("pa").alias("a"), F.col("pb").alias("c"))
    truth = e1.join(e2, "b").join(e3, ["a", "c"]).count()
    e.unpersist()
    assert got["n_triangles"] == truth


def test_incremental_minhash_matches_full_recompute(spark, sf_dir):
    """The append-only index-maintenance path must produce EXACTLY the
    pair set of the one-shot full recompute (same corpus, same banding)
    — a missed cross pair or an unappended band surfaces as a set
    difference here even before the DuckDB full-recompute oracle runs.
    Also asserts the maintained index: after the append step, the stored
    band table equals the full-corpus banding row-for-row (tomorrow's
    batch sees today's documents)."""
    import __spark_entry__ as m

    qs = m.queries()
    inc = {
        (r["id_a"], r["id_b"], r["jac"])
        for r in qs["dedup_minhash_incremental"](spark, sf_dir).collect()
    }
    full = {
        (r["id_a"], r["id_b"], r["jac"])
        for r in qs["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    assert inc == full
    assert len(inc) > 0, "planted truncations must yield verified pairs"


def test_incremental_minhash_index_complete_after_append(spark, sf_dir):
    """After the maintenance append, the stored band index must equal the
    full-corpus banding (multiset): the incremental store is what
    tomorrow's delta joins against, so any gap silently loses recall on
    every future batch."""
    import os

    import __spark_entry__ as m
    from movies_etl_spark.operators import dedup as D
    from movies_etl_spark.plans.queries_ext import _near_corpus

    # run the incremental query (rebuilds its scratch store fresh)
    m.queries()["dedup_minhash_incremental"](spark, sf_dir).collect()
    sf_tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    store = f"/tmp/movies_etl_scratch/{os.getpid()}/minhash_index-{sf_tag}"
    stored = spark.read.parquet(f"{store}/bands")
    expect = D.with_minhash_bands(
        D.shingled(_near_corpus(spark, sf_dir), "text", "doc_id"), "doc_id"
    )
    a = stored.groupBy("doc_id", "band_id", "band_key").count()
    b = expect.groupBy("doc_id", "band_id", "band_key").count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_streaming_lsh_dedup_matches_batch_and_crosses_batches(spark, sf_dir):
    """The streaming near-dedup survivor set must equal the batch
    formulation (corpus minus every id_b of the verified LSH pair set),
    AND the work must genuinely span micro-batches: the planted
    truncated copies (+1000000 ids) land in a later chunk than their
    originals, so every dropped doc here was deduped against the
    parquet band INDEX of earlier batches, not within one batch."""
    import glob
    import os

    import __spark_entry__ as m

    qs = m.queries()
    surv = {r["doc_id"] for r in qs["streaming_lsh_dedup"](spark, sf_dir).collect()}
    pairs = qs["dedup_minhash_lsh"](spark, sf_dir).collect()
    dropped_expect = {r["id_b"] for r in pairs}
    from movies_etl_spark.plans.queries_ext import _near_corpus

    corpus_ids = {
        r["doc_id"] for r in _near_corpus(spark, sf_dir).select("doc_id").collect()
    }
    assert surv == corpus_ids - dropped_expect
    assert dropped_expect, "planted near-dups must be dropped"
    # multi-batch evidence: 4 per-batch survivor dirs on disk, and at
    # least one dropped doc whose smaller partner sits 1000000 below it
    # (original in an earlier id-range chunk)
    sf_tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    work = f"/tmp/movies_etl_scratch/{os.getpid()}/streaming_lsh_dedup-{sf_tag}"
    assert len(glob.glob(f"{work}/out/batch=*")) == 4
    assert any(b - a == 1000000 for (a, b) in {(r["id_a"], r["id_b"]) for r in pairs})


def test_quantile_sketch_bounds_survive_sharded_recompute(spark, sf_dir, duck):
    """The merged sketch estimate must sit inside the exact ±2% RANK
    window (k=100 centroids/shard bounds rank error at ~1%), and the
    bound must survive recomputing the partials at DIFFERENT shard
    counts (4 / 8 / 16) — the merge-of-partials contract: shard layout
    is an execution detail, not a semantic input. The witness is
    DuckDB's quantile_cont on the raw values — independent machinery,
    not the sketch replica oracle."""
    from movies_etl_spark.operators import sketch as SK
    from movies_etl_spark.sources import readers

    QS = [0.1, 0.5, 0.9, 0.95, 0.99]
    margin = 0.02
    windows = {}
    for q in QS:
        lo, hi = duck.execute(
            f"""SELECT quantile_cont(l_extendedprice, {max(q - margin, 0.0)}),
                       quantile_cont(l_extendedprice, {min(q + margin, 1.0)})
                FROM lineitem"""
        ).fetchone()
        windows[q] = (lo, hi)

    li = readers.load_table(spark, sf_dir, "lineitem")
    for n_shards in (4, 8, 16):
        sharded = li.select(
            (F.col("l_orderkey") % n_shards).alias("shard"),
            F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
            "l_orderkey",
            "l_linenumber",
        )
        cent = SK.equidepth_centroids(sharded, "cents", "shard", k=100)
        got = {
            r["q"]: r["est"] / 100
            for r in SK.merge_centroid_quantiles(cent, QS).collect()
        }
        for q, (lo, hi) in windows.items():
            assert lo - 0.01 <= got[q] <= hi + 0.01, (n_shards, q, got[q], lo, hi)


def test_ann_rerank_containment_and_scorer_parity(spark, sf_dir):
    """Retrieve→rerank invariants: (a) the reranked top-3 is contained
    in the quantized-retrieve top-20 (rerank reorders, never invents
    candidates); (b) the Python-worker BLAS score equals the JVM
    fold-cosine recomputed independently for every output pair (the
    vectorized-twin discipline: round-6 absorbs the summation-order
    ulp); (c) the quantized retrieval order genuinely differs from the
    exact order inside the candidate list for most queries — the noise
    the rerank stage exists to repair."""
    import numpy as np

    import __spark_entry__ as m
    from movies_etl_spark.operators import similarity as SIM
    from movies_etl_spark.operators.dedup import cosine_expr
    from movies_etl_spark.sources import readers

    out = m.queries()["ann_rerank"](spark, sf_dir).toPandas()
    assert len(out) == 8 * 3

    e = readers.load_table(spark, sf_dir, "embeddings")
    cands = SIM.retrieve_quantized_multiprobe(
        e, e.filter(F.col("vec_id") < 8)
    ).toPandas()
    top20 = set(zip(cands.query_id, cands.neighbor_id))
    assert set(zip(out.query_id, out.neighbor_id)) <= top20

    # (b) independent scorer: JVM fold cosine on the same pairs
    ev = {r["vec_id"]: r["embedding"] for r in e.collect()}
    pair_df = spark.createDataFrame(
        [
            (int(r.query_id), int(r.neighbor_id), ev[r.query_id], ev[r.neighbor_id])
            for r in out.itertuples()
        ],
        "query_id long, neighbor_id long, a array<float>, b array<float>",
    )
    fold = {
        (r["query_id"], r["neighbor_id"]): r["c"]
        for r in pair_df.select(
            "query_id", "neighbor_id", F.round(cosine_expr("a", "b"), 6).alias("c")
        ).collect()
    }
    for r in out.itertuples():
        assert fold[(r.query_id, r.neighbor_id)] == r.rerank_score, r

    # (c) quantization genuinely perturbs the candidate ordering
    reordered = 0
    for _, d in cands.groupby("query_id"):
        d = d.sort_values("retrieval_rank")
        q = np.stack(d.qvec.to_numpy())
        c = np.stack(d.cvec.to_numpy())
        s = np.round(
            (q * c).sum(1) / (np.linalg.norm(q, axis=1) * np.linalg.norm(c, axis=1)),
            6,
        )
        if (np.argsort(-s, kind="stable") != np.arange(len(s))).any():
            reordered += 1
    assert reordered >= 4, reordered


def test_hll_sketch_edge_cases(spark):
    """Library-robustness edges of the portable HLL: an EMPTY input must
    estimate 0.0 (not NULL — the ungrouped sum over zero register rows
    is coalesced), and NULL keys are excluded (HLL counts non-null keys,
    the COUNT(DISTINCT col) convention)."""
    from pyspark.sql import functions as F

    from movies_etl_spark.operators import sketch as SK

    empty = spark.range(0).select(F.col("id").alias("k"), F.lit(0).alias("s"))
    est = SK.hll_estimate(SK.hll_merge(SK.hll_partials(empty, "k", "s"))).collect()
    assert [r["est_distinct"] for r in est] == [0.0]

    withnull = spark.range(10).select(
        F.when(F.col("id") < 5, F.col("id")).alias("k"), F.lit(0).alias("s")
    )
    parts = SK.hll_partials(withnull, "k", "s")
    # 5 non-null keys -> at most 5 registers, none from the null rows
    assert 0 < parts.count() <= 5

    # register arithmetic is integer-exact: shiftright(h, W) must equal
    # the oracle's h // 2^W for keys whose hash sits near a register
    # boundary — a float-division formulation (floor(h / 2^51) in
    # doubles) rounds h above 2^53 and can mis-register; probe a sample
    # of real hashes for the invariant
    probe = spark.range(1000).select(
        F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("h")
    )
    bad = probe.filter(
        F.shiftright(F.col("h"), SK.HLL_W)
        != F.expr(f"h div cast({1 << SK.HLL_W} as bigint)")
    ).count()
    assert bad == 0


def test_cms_point_estimate_unknown_key_is_zero(spark):
    """A key never inserted whose cells are all empty must estimate 0
    (left-join coalesce), never NULL."""
    from pyspark.sql import functions as F

    from movies_etl_spark.operators import sketch as SK

    data = spark.range(5).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        F.lit(0).alias("s"),
    )
    merged = SK.cms_merge(SK.cms_partials(data, "k", "s"))
    cands = spark.range(1).select(F.lit("never-inserted-key").alias("k"))
    est = SK.cms_point_estimate(merged, cands, "k").collect()
    assert len(est) == 1 and est[0]["cms_est"] == 0


def test_grouped_quantile_sketch_bounds_per_group(spark, sf_dir, duck):
    """Per-group sketch estimates must sit inside each group's exact
    ±3% RANK window (groups are ~5× smaller than the global table, so
    per-shard centroid width — hence rank error — is proportionally
    coarser), recomputed at 2 and 4 shards per group. Witness machinery
    is quantile_cont per group — independent of the sketch replica."""
    from movies_etl_spark.operators import sketch as SK
    from movies_etl_spark.sources import readers

    QS = [0.25, 0.5, 0.95]
    margin = 0.03
    windows = {}
    for q in QS:  # quantile_cont requires constant fractions
        for grp, lo, hi in duck.execute(
            f"""SELECT o_orderpriority,
                       quantile_cont(o_totalprice, {max(q - margin, 0.0)}),
                       quantile_cont(o_totalprice, {min(q + margin, 1.0)})
                FROM orders GROUP BY o_orderpriority"""
        ).fetchall():
            windows[(grp, q)] = (lo, hi)

    o = readers.load_table(spark, sf_dir, "orders")
    for n_shards in (2, 4):
        sharded = o.select(
            "o_orderpriority",
            (F.col("o_orderkey") % n_shards).alias("shard"),
            F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
            "o_orderkey",
        )
        cent = SK.equidepth_centroids(
            sharded, "cents", "shard", k=100, group_cols=["o_orderpriority"]
        )
        got = {
            (r["o_orderpriority"], r["q"]): r["est"] / 100
            for r in SK.merge_centroid_quantiles(
                cent, QS, group_cols=["o_orderpriority"]
            ).collect()
        }
        assert set(got) == set(windows)
        for key, (lo, hi) in windows.items():
            assert lo - 0.01 <= got[key] <= hi + 0.01, (n_shards, key, got[key], lo, hi)


def _tie_broken_centroids(df, value_col, shard_col, order_cols, k, group_cols=()):
    """The equi-depth sketch with the rank tie-broken by ``order_cols``:
    the reference that shows ties cannot change the centroids."""
    from pyspark.sql import Window

    gcols = list(group_cols)
    w_rank = Window.partitionBy(*gcols, shard_col).orderBy(
        F.col(value_col), *[F.col(c) for c in order_cols]
    )
    w_shard = Window.partitionBy(*gcols, shard_col)
    ranked = df.select(
        *gcols,
        F.col(shard_col).alias("shard"),
        F.col(value_col).alias("v"),
        (F.row_number().over(w_rank) - 1).alias("rn"),
        F.count(F.lit(1)).over(w_shard).alias("n_s"),
    )
    bucket = F.floor(F.col("rn") * k / F.col("n_s")).cast("bigint")
    return ranked.groupBy(*gcols, "shard", bucket.alias("bucket")).agg(
        F.avg("v").alias("m"), F.count(F.lit(1)).alias("w")
    )


@pytest.mark.parametrize(
    "val, shard, group_cols",
    [
        # 7 distinct values over ~667 rows per shard: each value's ties
        # span many of the 100 buckets
        pytest.param("id % 7", "id % 3", (), id="heavy_ties"),
        pytest.param(
            "CASE WHEN id % 5 != 0 THEN id % 11 END", "id % 3", (),
            id="null_values",
        ),
        pytest.param("id % 13", "id % 3", ("g",), id="group_cols"),
        # shard 3 holds 59 rows (< k) and shard 4 a single row
        pytest.param(
            "id % 7",
            "CASE WHEN id < 1940 THEN id % 3 WHEN id < 1999 THEN 3 ELSE 4 END",
            (),
            id="small_shards",
        ),
    ],
)
def test_equidepth_centroids_match_tie_broken_rank(spark, val, shard, group_cols):
    """Ranking by the value alone gives exactly the centroids of a rank
    tie-broken by other columns: a shard sorted by value holds the same
    multiset in each bucket however ties are ordered."""
    from movies_etl_spark.operators import sketch as SK

    df = spark.range(2000).selectExpr(
        "id % 2 AS g",
        f"{shard} AS s",
        f"{val} AS val",
        "id * 7919 % 2000 AS tb",  # a tie-break unrelated to id order
    )
    got = SK.equidepth_centroids(df, "val", "s", k=100, group_cols=group_cols)
    want = _tie_broken_centroids(df, "val", "s", ["tb"], 100, group_cols)
    assert got.schema == want.schema

    def rows(frame):
        return sorted(
            (tuple(r) for r in frame.collect()),
            key=lambda r: tuple((x is None, x) for x in r),
        )

    assert rows(got) == rows(want)


def test_sketch_cdf_bounds_vs_exact_rank(spark, sf_dir, duck):
    """CDF-dual bounds: each estimated rank fraction must sit within
    the centroid rank-error window (±2%) of the EXACT fraction of raw
    values at or below the probe — independent machinery (a raw
    count/ratio in DuckDB), not the sketch replica."""
    probes = [100000.0, 500000.0, 2000000.0, 5000000.0, 9000000.0]
    exact = {}
    for p in probes:
        frac, = duck.execute(
            f"""SELECT sum(CASE WHEN floor(l_extendedprice * 100) <= {p}
                               THEN 1 ELSE 0 END) * 1.0 / count(*)
                FROM lineitem"""
        ).fetchone()
        exact[round(p / 100, 2)] = frac

    import __spark_entry__ as m

    got = {
        r["price"]: r["est_cdf"]
        for r in m.queries()["quantile_sketch_cdf"](spark, sf_dir).collect()
    }
    assert set(got) == set(exact)
    for price, est in got.items():
        assert abs(est - exact[price]) <= 0.02, (price, est, exact[price])


def test_hll_overlap_within_combined_error(spark, sf_dir):
    """Inclusion-exclusion overlap bounds: each single-set estimate
    within 3σ (14%) of its exact count (the exact rides in the output,
    itself pinned against pandas in the HLL witness); the intersection
    — which combines three estimates — within √3·3σ of exact, relative
    to the UNION size (the scale of the absolute errors involved)."""
    import math

    import __spark_entry__ as m

    rows = {
        r["scope"]: (r["est"], r["exact"])
        for r in m.queries()["hll_set_overlap"](spark, sf_dir).collect()
    }
    assert set(rows) == {"a", "b", "union", "intersection"}
    sigma = 1.04 / math.sqrt(512)
    for scope in ("a", "b", "union"):
        est, exact = rows[scope]
        assert abs(est - exact) / exact <= 3 * sigma, (scope, est, exact)
    est_i, exact_i = rows["intersection"]
    bound = math.sqrt(3) * 3 * sigma * rows["union"][1]
    assert abs(est_i - exact_i) <= bound, (est_i, exact_i, bound)


def test_cms_join_size_overestimates_within_bound(spark, sf_dir):
    """Inner-product estimator contract: est ≥ true join size always
    (min over rows of overestimating inner products), and the additive
    error stays under e·|A|·|B|/w — checked against the true size
    computed with a pandas groupby product (independent machinery)."""
    import math

    import pandas as pd

    import __spark_entry__ as m

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_partkey", "l_returnflag"]
    )
    fa = li.l_partkey.value_counts()
    fb = li[li.l_returnflag == "R"].l_partkey.value_counts()
    truth = int((fa * fb).dropna().sum())

    row = m.queries()["cms_join_size_estimate"](spark, sf_dir).collect()[0]
    assert row["exact_join_rows"] == truth
    assert row["est_join_rows"] >= truth
    bound = math.e * len(li) * (li.l_returnflag == "R").sum() / 65536
    assert row["est_join_rows"] - truth <= bound, (row, truth, bound)


def test_cms_point_estimate_width_must_match_sketch(spark):
    """Probing a sketch with the width it was built with returns exact
    counts on a collision-free keyspace; the same probe at a mismatched
    width reads wrong cells (regression for the width passthrough)."""
    from pyspark.sql import functions as F

    from movies_etl_spark.operators import sketch as SK

    data = spark.range(20).select(
        F.concat(F.lit("key"), F.col("id").cast("string")).alias("k"),
        F.lit(0).alias("s"),
    )
    merged = SK.cms_merge(SK.cms_partials(data, "k", "s", width=4096))
    cands = data.select("k").distinct()
    good = SK.cms_point_estimate(merged, cands, "k", width=4096)
    assert all(r["cms_est"] >= 1 for r in good.collect())
    # mismatched width: most probes miss their cells entirely -> zeros
    bad = SK.cms_point_estimate(merged, cands, "k", width=1024)
    zeros = sum(1 for r in bad.collect() if r["cms_est"] == 0)
    assert zeros > 0


def test_bpe_survives_fully_merged_words(spark):
    """A 1-char word collapses to a single symbol after its char+EOW
    merge; the next iteration's pair scan must skip it (Spark's
    sequence(1, 0) is DESCENDING and element_at(.., 0) throws under
    ANSI — regression for the multi-symbol filter) and training must
    stop early when no pairs remain."""
    from movies_etl_spark.operators import bpe as B

    wc = spark.createDataFrame([("a", 5), ("ab", 3)], "word string, freq bigint")
    merges, vocab = B.bpe_train_with_vocab(spark, wc, n_merges=6)
    rows = merges.collect()
    # everything merges into whole-word tokens, then the corpus is dry
    assert [(r["sym_a"], r["sym_b"]) for r in rows] == [
        ("a", "</w>"), ("a", "b"), ("ab", "</w>")
    ]
    assert {r["word"]: r["syms"] for r in vocab.collect()} == {
        "a": "a</w>", "ab": "ab</w>"
    }


def test_bpe_local_trainer_matches_distributed(spark, sf_dir):
    """The r12 driver-side merge loop must be byte-identical to the
    distributed per-iteration loop it replaces: same merge table, same
    final segmentation for every word, on a real corpus vocab.
    max_local_vocab=0 forces the distributed path on the same input."""
    from movies_etl_spark.operators import bpe as B

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wc = B.word_counts(d, "text").persist()
    try:
        m_loc, v_loc = B.bpe_train_with_vocab(spark, wc, n_merges=8)
        m_dist, v_dist = B.bpe_train_with_vocab(
            spark, wc, n_merges=8, max_local_vocab=0
        )
        assert sorted(map(tuple, m_loc.collect())) == sorted(
            map(tuple, m_dist.collect())
        )
        assert sorted(map(tuple, v_loc.collect())) == sorted(
            map(tuple, v_dist.collect())
        )
    finally:
        wc.unpersist()


def test_bpe_local_trainer_whitespace_word_parity(spark):
    """Words may begin/end with non-space whitespace (word_counts splits
    on ' ' alone); F.trim strips only ASCII spaces, so the python twin
    must strip(' '), not strip() — a plain strip() would eat the
    tab-symbol this vocab plants at the string boundary."""
    from movies_etl_spark.operators import bpe as B

    wc = spark.createDataFrame(
        [("\tab", 4), ("ab", 3), ("b\t", 2)], "word string, freq bigint"
    )
    m_loc, v_loc = B.bpe_train_with_vocab(spark, wc, n_merges=4)
    m_dist, v_dist = B.bpe_train_with_vocab(
        spark, wc, n_merges=4, max_local_vocab=0
    )
    assert sorted(map(tuple, m_loc.collect())) == sorted(
        map(tuple, m_dist.collect())
    )
    assert sorted(map(tuple, v_loc.collect())) == sorted(
        map(tuple, v_dist.collect())
    )
    # the tab symbol must survive in the segmentation
    segs = {r["word"]: r["syms"] for r in v_loc.collect()}
    assert segs["\tab"].startswith("\t")


def test_bpe_non_bmp_codepoint_parity(spark):
    """ADVICE r12 / VERDICT r12 #7: the distributed path used to seed
    symbols with F.split(word, '') — UTF-16 CODE UNITS — so a non-BMP
    character (emoji, supplementary CJK) seeded as two surrogate halves
    while the local trainer (python code points) and the DuckDB oracle
    (string_split) saw one symbol: the over-cap path would silently
    train a DIFFERENT merge table on real web text. Both paths must now
    produce byte-identical merges and segmentations on a planted
    non-BMP vocab, and the supplementary character must seed as ONE
    symbol (never a lone surrogate)."""
    from movies_etl_spark.operators import bpe as B

    # U+1F600 (emoji) and U+20089 (supplementary CJK): both outside the
    # BMP, so each is 2 UTF-16 code units / 1 code point
    wc = spark.createDataFrame(
        [("a\U0001F600b", 4), ("\U0001F600\U0001F600", 3),
         ("x\U0001F600", 2), ("\U00020089c", 2)],
        "word string, freq bigint",
    )
    m_loc, v_loc = B.bpe_train_with_vocab(spark, wc, n_merges=4)
    m_dist, v_dist = B.bpe_train_with_vocab(
        spark, wc, n_merges=4, max_local_vocab=0
    )
    assert sorted(map(tuple, m_loc.collect())) == sorted(
        map(tuple, m_dist.collect())
    )
    assert sorted(map(tuple, v_loc.collect())) == sorted(
        map(tuple, v_dist.collect())
    )
    # distributed seeding yields whole code points: no symbol in any
    # segmentation may be an unpaired surrogate half
    for r in v_dist.collect():
        for sym in r["syms"].split(" "):
            assert not any(0xD800 <= ord(ch) <= 0xDFFF for ch in sym), (
                r["word"],
                sym.encode("unicode_escape"),
            )


def test_bpe_local_gate_counts_chars_not_just_rows(spark):
    """ADVICE r12: MAX_LOCAL_VOCAB admits by row count, but
    _train_local's Python structures scale with total word CHARACTERS
    (~100 B/char — pair-index set entries dominate); a few very long
    words must divert to the distributed loop even when the row count
    is tiny. Both paths stay value-identical either way."""
    from movies_etl_spark.operators import bpe as B

    wc = spark.createDataFrame(
        [("ab" * 50, 4), ("ba" * 30, 3)], "word string, freq bigint"
    )
    # spy on the fallback so the test proves WHICH path ran (the call
    # site resolves _train_distributed at call time, so a module-attr
    # wrap observes it)
    calls = []
    orig = B._train_distributed

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    B._train_distributed = spy
    try:
        # 160 chars total: over a 100-char budget -> distributed,
        # despite only 2 rows. Parity with the local result follows.
        m_dist, v_dist = B.bpe_train_with_vocab(
            spark, wc, n_merges=3, max_local_chars=100
        )
        assert calls == [1]
        m_loc, v_loc = B.bpe_train_with_vocab(
            spark, wc, n_merges=3, max_local_chars=10_000
        )
        assert calls == [1]  # under budget -> local, no new fallback call
    finally:
        B._train_distributed = orig
    assert sorted(map(tuple, m_loc.collect())) == sorted(
        map(tuple, m_dist.collect())
    )
    assert sorted(map(tuple, v_loc.collect())) == sorted(
        map(tuple, v_dist.collect())
    )


def test_verify_pairs_matches_classic_two_join_verify(spark, sf_dir):
    """The r12 fused role-explode verify (dedup.verify_pairs) must be
    value-identical to the classic two-join verify it replaced, on the
    real near-dup corpus and real LSH candidates — including the jac
    column. (The fused form's win is exchange VOLUME — one
    full-shingle-table exchange instead of two in the non-broadcast
    regime — which node counts at fixture SF cannot show; this witness
    pins the semantics so the shape is free to differ.)"""
    from pyspark.sql import functions as F

    from movies_etl_spark.operators import dedup as D
    from movies_etl_spark.plans.queries_ext import _near_corpus

    corpus = _near_corpus(spark, sf_dir)
    sh_all = D.shingled(corpus, "text", "doc_id").persist()
    try:
        pairs = D.candidate_pairs_minhash(sh_all, "doc_id")
        sh = sh_all.filter(F.size("shingles") > 0)
        a = sh.select(
            F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
        )
        b = sh.select(
            F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
        )
        jac = F.round(D.jaccard(F.col("sh_a"), F.col("sh_b")), 4)
        classic = (
            pairs.join(a, "id_a")
            .join(b, "id_b")
            .filter(jac >= 0.5)
            .select("id_a", "id_b", jac.alias("jac"))
        )
        fused = D.verify_pairs(pairs, sh_all, keep_jaccard=True)
        got_c = sorted(map(tuple, classic.collect()))
        got_f = sorted(map(tuple, fused.collect()))
        assert got_f == got_c and len(got_f) > 0
    finally:
        sh_all.unpersist()


def test_verify_pairs_rejects_duplicate_shingle_rows(spark):
    """ADVICE r12: verify_pairs' regroup assumes ≤ 2 role rows per pair
    (sh_all doc_id-unique); a store holding duplicate shingle rows —
    e.g. an incremental run re-verified AFTER its maintenance append —
    used to be silently collapsed by the max-of-when. It must now raise
    with remediation, while the healthy doc_id-unique store passes the
    same plan unchanged."""
    import pytest
    from pyspark.sql import functions as F

    from movies_etl_spark.operators import dedup as D

    pairs = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    sh_ok = spark.createDataFrame(
        [(1, ["a b c", "b c d"]), (2, ["a b c", "c d e"])],
        "doc_id bigint, shingles array<string>",
    )
    ok = D.verify_pairs(pairs, sh_ok, threshold=0.1, keep_jaccard=True)
    assert ok.count() == 1
    # duplicate doc_id row (the post-append re-verify shape): hard fail
    sh_dup = sh_ok.unionByName(
        spark.createDataFrame(
            [(1, ["a b c", "b c d"])], "doc_id bigint, shingles array<string>"
        )
    )
    bad = D.verify_pairs(pairs, sh_dup, threshold=0.1)
    with pytest.raises(Exception, match="not doc_id-unique"):
        bad.collect()

    # ADVICE r13 #3 (hard contract, not best-effort): a duplicate-store
    # group that ALSO fails the null/jac predicate must still raise.
    # When the guard rode its own Filter, Catalyst merged it into one
    # conjunction with the jac predicate and conjunct order could drop
    # the group first; the guard now lives inside the sh_a/sh_b columns
    # themselves, so every conjunct hits a guard. Shape: doc 1 tripled,
    # doc 2 absent from the store -> sh_b null AND __nroles = 3.
    sh_trip = spark.createDataFrame(
        [(1, ["a b c"]), (1, ["a b c"]), (1, ["a b c"])],
        "doc_id bigint, shingles array<string>",
    )
    worse = D.verify_pairs(pairs, sh_trip, threshold=0.1)
    with pytest.raises(Exception, match="not doc_id-unique"):
        worse.collect()


def test_cms_inner_product_disjoint_sets_estimate_zero(spark):
    """Two sketches over DISJOINT key sets must estimate a 0-row join —
    a hash row with no overlapping cells is inner product 0 and the min
    must see it (regression for the seed-spine coalesce; without it the
    estimate is NULL, or collision noise alone when some rows collide)."""
    from pyspark.sql import functions as F

    from movies_etl_spark.operators import sketch as SK

    a = spark.range(5).select(
        F.concat(F.lit("left"), F.col("id").cast("string")).alias("k"),
        F.lit(0).alias("s"),
    )
    b = spark.range(5).select(
        F.concat(F.lit("right"), F.col("id").cast("string")).alias("k"),
        F.lit(0).alias("s"),
    )
    ca = SK.cms_merge(SK.cms_partials(a, "k", "s"))
    cb = SK.cms_merge(SK.cms_partials(b, "k", "s"))
    est = SK.cms_inner_product(ca, cb).collect()[0]["est"]
    assert est == 0, est


def test_winnowing_guarantee_property():
    """The Schleimer winnowing theorem the span_dedup_sliding coverage
    claim rests on, exercised over randomized placements: ANY run of
    ≥ w + k − 1 = 39 tokens shared by two documents yields at least one
    shared selected fingerprint REGARDLESS of the run's offset in
    either document or of the surrounding content. Runs on the python
    reference implementation (bound to the Spark/SQL formulation by
    test_span_dedup_sliding_matches_python_winnowing), so hundreds of
    placements are cheap."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tests.test_ground_truth import _python_winnow_fps

    @settings(max_examples=200, deadline=None)
    @given(
        run_len=st.integers(min_value=39, max_value=70),
        off_a=st.integers(min_value=0, max_value=55),
        off_b=st.integers(min_value=0, max_value=55),
        tail_a=st.integers(min_value=0, max_value=40),
        tail_b=st.integers(min_value=0, max_value=40),
        seed=st.integers(min_value=0, max_value=10**6),
    )
    def check(run_len, off_a, off_b, tail_a, tail_b, seed):
        run = [f"r{seed}_{i}" for i in range(run_len)]
        doc_a = (
            [f"a{i}" for i in range(off_a)]
            + run
            + [f"a{i}" for i in range(off_a, off_a + tail_a)]
        )
        doc_b = (
            [f"b{i}" for i in range(off_b)]
            + run
            + [f"b{i}" for i in range(off_b, off_b + tail_b)]
        )
        fa = _python_winnow_fps(" ".join(doc_a))
        fb = _python_winnow_fps(" ".join(doc_b))
        assert fa & fb, (run_len, off_a, off_b, tail_a, tail_b)

    check()


def test_cms_partials_pair_matches_per_relation_sketches(spark):
    """The r14 fusion's algebra: a dual-counter cell table built from
    ONE pass over (relation, tag-predicate) must equal the two cell
    tables cms_partials builds from the relation and its filtered
    subset — cnt cell-for-cell on the base, cnt_tag cell-for-cell on
    the subset (absent subset cells ⇔ cnt_tag 0) — and the cell-local
    inner product must equal cms_inner_product over the two separate
    sketches."""
    from pyspark.sql import functions as F

    from movies_etl_spark.operators import sketch as SK

    data = spark.range(500).select(
        (F.col("id") % 97).cast("string").alias("k"),
        (F.col("id") % 3).alias("s"),
        (F.col("id") % 5 == 0).alias("tag"),
    )
    dual = SK.cms_merge_pair(
        SK.cms_partials_pair(data, "k", "s", F.col("tag"))
    )
    base = SK.cms_merge(SK.cms_partials(data, "k", "s"))
    sub = SK.cms_merge(SK.cms_partials(data.filter("tag"), "k", "s"))

    got_base = {
        (r["seed"], r["cell"]): r["cnt"] for r in dual.collect()
    }
    want_base = {(r["seed"], r["cell"]): r["cnt"] for r in base.collect()}
    assert got_base == want_base
    got_sub = {
        (r["seed"], r["cell"]): r["cnt_tag"]
        for r in dual.collect()
        if r["cnt_tag"] > 0
    }
    want_sub = {(r["seed"], r["cell"]): r["cnt"] for r in sub.collect()}
    assert got_sub == want_sub

    est_pair = SK.cms_inner_product_pair(dual).collect()[0]["est"]
    est_join = SK.cms_inner_product(base, sub).collect()[0]["est"]
    assert est_pair == est_join


def test_cms_inner_product_pair_null_keys_match_equi_join(spark):
    """ADVICE r14 #2: NULL keys hash to NULL cells (md5(NULL) → NULL);
    the per-relation inner product drops them via the (seed, cell)
    equi-join's null semantics, so cms_inner_product_pair must drop
    its NULL-cell rows too — the identity holds on null-key inputs,
    not just for non-null keys."""
    from pyspark.sql import functions as F

    from movies_etl_spark.operators import sketch as SK

    data = spark.range(200).select(
        F.when(F.col("id") % 7 == 0, F.lit(None))
        .otherwise((F.col("id") % 53).cast("string"))
        .alias("k"),
        (F.col("id") % 3).alias("s"),
        (F.col("id") % 4 == 0).alias("tag"),
    )
    dual = SK.cms_merge_pair(
        SK.cms_partials_pair(data, "k", "s", F.col("tag"))
    )
    base = SK.cms_merge(SK.cms_partials(data, "k", "s"))
    sub = SK.cms_merge(SK.cms_partials(data.filter("tag"), "k", "s"))
    est_pair = SK.cms_inner_product_pair(dual).collect()[0]["est"]
    est_join = SK.cms_inner_product(base, sub).collect()[0]["est"]
    assert est_pair == est_join

    # all-null degenerate: both paths see zero usable cells → est 0
    allnull = spark.range(20).select(
        F.lit(None).cast("string").alias("k"),
        F.lit(0).alias("s"),
        (F.col("id") % 2 == 0).alias("tag"),
    )
    dual0 = SK.cms_merge_pair(
        SK.cms_partials_pair(allnull, "k", "s", F.col("tag"))
    )
    base0 = SK.cms_merge(SK.cms_partials(allnull, "k", "s"))
    sub0 = SK.cms_merge(SK.cms_partials(allnull.filter("tag"), "k", "s"))
    est_pair0 = SK.cms_inner_product_pair(dual0).collect()[0]["est"]
    est_join0 = SK.cms_inner_product(base0, sub0).collect()[0]["est"]
    assert est_pair0 == est_join0 == 0


def test_cms_join_fused_identity_degenerate_inputs(spark, tmp_path):
    """cms_join_size_estimate on the two degenerate shapes TPC-H can't
    produce: NULL l_partkey rows (null keys never equi-match, so the
    exact size counts only non-null keys, and the overestimate-only
    sketch still bounds it from above) and zero 'R' rows (the exact
    size reads 0, not NULL)."""
    from movies_etl_spark.plans import registry

    fn = registry.QUERIES["cms_join_size_estimate"]

    # shape 1: null join keys mixed in, some 'R' rows
    d1 = str(tmp_path / "nullkeys")
    li = spark.range(100).select(
        F.col("id").alias("l_orderkey"),
        F.when(F.col("id") % 5 == 0, F.lit(None))
        .otherwise(F.col("id") % 11)
        .alias("l_partkey"),
        F.when(F.col("id") % 3 == 0, F.lit("R"))
        .otherwise(F.lit("N"))
        .alias("l_returnflag"),
    )
    li.write.parquet(f"{d1}/lineitem.parquet")
    pdf = li.toPandas().dropna(subset=["l_partkey"])
    ca = pdf.groupby("l_partkey").size()
    cb = pdf[pdf.l_returnflag == "R"].groupby("l_partkey").size()
    want = int((ca * cb).dropna().sum())
    assert want > 0
    ((est, exact, overest),) = [tuple(r) for r in fn(spark, d1).collect()]
    assert exact == want, (exact, want)
    assert est >= exact and overest == est - exact, (est, exact, overest)

    # shape 2: zero 'R' rows — exact_join_rows must read 0, not NULL
    d2 = str(tmp_path / "nor")
    spark.range(50).select(
        F.col("id").alias("l_orderkey"),
        (F.col("id") % 7).alias("l_partkey"),
        F.lit("N").alias("l_returnflag"),
    ).write.parquet(f"{d2}/lineitem.parquet")
    ((est, exact, _),) = [tuple(r) for r in fn(spark, d2).collect()]
    assert exact is not None and exact == 0
    assert est == 0


def test_with_minhash_bands_sig_cols_matches_refold(spark):
    """The shared-signature passthrough: banding from precomputed
    signature columns must emit the identical (id, band_id, band_key)
    rows as re-deriving the folds from shingles — same fold, same band
    concat, so any drift means the sig_cols path wired the wrong
    columns."""
    from pyspark.sql import functions as F

    from movies_etl_spark.operators import dedup as D

    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("tok"), (F.col("id") % 7).cast("string"),
            F.lit(" alpha beta gamma delta epsilon zeta"),
        ).alias("text"),
    )
    sh = D.shingled(docs, "text", "doc_id")
    m_cols = [f"m{i}" for i in range(D.N_MINHASH)]
    sh_sig = sh.select(
        "doc_id",
        "shingles",
        *[F.expr(s).alias(c) for s, c in zip(D._minhash_sig_sql(), m_cols)],
    )
    want = sorted(
        tuple(r) for r in D.with_minhash_bands(sh, "doc_id").collect()
    )
    got = sorted(
        tuple(r)
        for r in D.with_minhash_bands(
            sh_sig, "doc_id", sig_cols=m_cols
        ).collect()
    )
    assert got == want


def _py_shingles(text: str) -> list[int]:
    """Independent python witness of dedup.shingle_hashes: md5 48-bit
    token hashes mod P, combined per 3-token window."""
    import hashlib

    from movies_etl_spark.operators.dedup import MINHASH_P, SHINGLE_C1, SHINGLE_C2

    th = [
        int(hashlib.md5(t.encode()).hexdigest()[:12], 16) % MINHASH_P
        for t in text.split(" ")
    ]
    return [
        (th[i] * SHINGLE_C1 + th[i + 1] * SHINGLE_C2 + th[i + 2]) % MINHASH_P
        for i in range(len(th) - 2)
    ]


def _py_bands(shingles: list[int]) -> list[tuple[int, str]]:
    """Independent python witness of with_minhash_bands' (band_id,
    band_key) rows for one document (none when it has no shingles)."""
    from movies_etl_spark.operators.dedup import (
        MINHASH_P,
        MINHASH_SEEDS,
        N_BANDS,
        N_MINHASH,
    )

    if not shingles:
        return []
    sig = [
        min((a * h + b) % MINHASH_P for h in shingles)
        for a, b in MINHASH_SEEDS[:N_MINHASH]
    ]
    r = N_MINHASH // N_BANDS
    return [
        (i, "|".join(str(v) for v in sig[i * r : (i + 1) * r]))
        for i in range(N_BANDS)
    ]


def _py_fold(xs) -> float:
    """Left-to-right double sum from 0.0, the fold order of the kernels."""
    acc = 0.0
    for x in xs:
        acc += x
    return acc


def test_shingle_band_sql_parity(spark):
    """shingled() and with_minhash_bands() match the python md5
    witnesses (the arithmetic tests/test_ground_truth.py replays):
    same token hashing, same affine grouping, same band concat."""
    from movies_etl_spark.operators import dedup as D

    texts = {
        1: "a b c d e f g",
        2: "a b",  # under-k: empty shingles
        3: "",  # degenerate
        4: "x y z x y z x y z q r s",
        5: "lorem ipsum dolor sit amet consectetur",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    sh = D.shingled(docs, "text", "doc_id")
    got_sh = {r["doc_id"]: list(r["shingles"]) for r in sh.collect()}
    want_sh = {d: _py_shingles(t) for d, t in texts.items()}
    assert got_sh == want_sh

    got_bands = sorted(tuple(r) for r in D.with_minhash_bands(sh, "doc_id").collect())
    want_bands = sorted(
        (d, i, key) for d, s in want_sh.items() for i, key in _py_bands(s)
    )
    assert got_bands == want_bands


def test_string_builders_reject_non_plain_names(spark):
    """The string-input builders paste column names into F.expr text, so
    a name that is not a plain identifier must fail before anything is
    built; plain names build values equal to independent python folds
    and md5 witnesses."""
    import math

    from movies_etl_spark.operators import dedup as D
    from movies_etl_spark.operators import similarity as SIM

    def vec(seed):
        return [((i * 37 + seed * 11) % 17 - 8) / 4.0 for i in range(SIM.RP_DIM)]

    rows = [(1, "a b c d e", vec(1), vec(2)), (2, "x y z x y", vec(3), vec(5))]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, a array<double>, b array<double>"
    )
    sh = D.shingled(df, "text", "doc_id")
    builders = [
        lambda n: D.dot_expr(n, "b"),
        lambda n: D.dot_expr("a", n),
        D.l2norm_expr,
        lambda n: D.cosine_expr("a", n),
        D.shingle_hashes,
        lambda n: D.shingled(df, n, "doc_id"),
        lambda n: D.with_minhash_bands(sh, "doc_id", sig_cols=["shingles", n]),
        SIM.rp_bucket,
        lambda n: SIM.kmeans_assign(df, id_col="doc_id", vec_col=n),
        lambda n: SIM.kmeans_train_assign(df, df, id_col="doc_id", vec_col=n),
        lambda n: SIM.retrieve_quantized_multiprobe(df, df, "doc_id", n),
    ]
    for build in builders:
        for bad in ("a.b", "a b"):
            with pytest.raises(ValueError, match="plain column name"):
                build(bad)

    got = df.select(
        "doc_id",
        D.dot_expr("a", "b"),
        D.l2norm_expr("a"),
        D.cosine_expr("a", "b"),
        SIM.rp_bucket("a", 3),
        SIM.rp_bucket("a"),
        D.shingle_hashes("text"),
    ).collect()

    def bucket(v, n_planes):
        return sum(
            1 << j
            for j, plane in enumerate(SIM.rp_planes_n(n_planes))
            if round(_py_fold(x * p for x, p in zip(v, plane)), 6) >= 0
        )

    want = []
    for doc_id, text, a, b in rows:
        d = _py_fold(x * y for x, y in zip(a, b))
        na = math.sqrt(_py_fold(x * x for x in a))
        nb = math.sqrt(_py_fold(x * x for x in b))
        want.append(
            (
                doc_id, d, na, d / (na * nb),
                bucket(a, 3), bucket(a, SIM.RP_N_PLANES), _py_shingles(text),
            )
        )
    assert [tuple(r) for r in got] == want


def _pivot_reference(df, group_key, pivot_key, values, prefix, fill_zero):
    """Spark's own pivot plus a rename and zero fill. Renamed by position:
    Spark names a None value's column "null", not str(None)."""
    out = df.groupBy(group_key).pivot(pivot_key, list(values)).count()
    out = out.toDF(group_key, *[f"{prefix}{v}" for v in values])
    if fill_zero:
        out = out.select(
            F.col(group_key),
            *[
                F.coalesce(F.col(f"`{prefix}{v}`"), F.lit(0)).alias(f"{prefix}{v}")
                for v in values
            ],
        )
    return out


def test_pivot_counts_matches_spark_pivot(spark):
    """pivot_counts' conditional counts equal Spark's pivot row for row
    and type for type: values cast to the pivot column's type (a string
    "0.50" never matches 0.5), a None value counts null keys, a rating
    outside the list is not counted, and empty buckets are 0 with
    fill_zero and null without."""
    from movies_etl_spark.operators import ratings as R

    doubles = spark.createDataFrame(
        [
            (1, 0.5), (1, 0.5), (1, 5.0), (2, 1.0), (2, None),
            (None, 0.5), (None, 4.0), (3, 3.25), (3, None), (4, 2.5),
        ],
        "movieId int, rating double",
    )
    strings = spark.createDataFrame(
        [
            (1, "0.5"), (1, "0.50"), (1, "1.0"), (2, "1"), (2, None),
            (None, "5.0"), (3, "x"), (3, "0.5"),
        ],
        "movieId int, rating string",
    )
    cases = [
        (doubles, R.RATING_BUCKETS, "rating_"),
        (doubles, [0.5, 1.0, None, 9.0], "r"),
        (strings, [0.5, 1.0, 5.0], "rating_"),
        (strings, ["0.5", "0.50", None, "missing"], ""),
    ]
    for df, values, prefix in cases:
        for fill_zero in (True, False):
            got = R.pivot_counts(df, "movieId", "rating", values, prefix, fill_zero)
            want = _pivot_reference(df, "movieId", "rating", values, prefix, fill_zero)
            assert got.schema == want.schema, (values, fill_zero)
            rows = sorted(map(tuple, got.collect()), key=repr)
            assert rows == sorted(map(tuple, want.collect()), key=repr), (
                values, fill_zero,
            )


def test_attach_rating_counts_matches_unfiltered_join(spark):
    """Counting only the ratings whose movieId is a movie key gives the
    unfiltered count-then-left-join row for row and type for type: a
    movie with no ratings keeps null buckets, ratings of movies absent
    from the dimension and null keys on either side are dropped either
    way, a duplicated movie key repeats its counts, and an int movieId
    matches a bigint kaggle_id."""
    from movies_etl_spark.operators import ratings as R

    movies = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "b-dup"), (7, "unrated"), (None, "no key")],
        "kaggle_id bigint, title string",
    )
    ratings = spark.createDataFrame(
        [
            (1, 0.5), (1, 0.5), (1, 5.0), (2, 3.5), (2, None),
            (3, 4.0), (4, 1.0), (None, 2.0), (None, None),
        ],
        "movieId int, rating double",
    )
    counts = R.rating_counts(ratings)
    want = movies.join(
        F.broadcast(counts), movies["kaggle_id"] == counts["movieId"], "left"
    ).drop(counts["movieId"])
    got = R.attach_rating_counts(movies, ratings)
    assert got.schema == want.schema
    got_rows = got.collect()
    rows = sorted(map(tuple, got_rows), key=repr)
    assert rows == sorted(map(tuple, want.collect()), key=repr)
    by_title = {r["title"]: r for r in got_rows}
    assert by_title["unrated"]["rating_0.5"] is None
    assert by_title["no key"]["rating_5.0"] is None
    assert by_title["a"]["rating_0.5"] == 2
    assert by_title["b-dup"]["rating_3.5"] == 1
