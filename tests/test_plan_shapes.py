"""Physical-plan regression tests: the scale properties the engine
promises (README 'Scale design rules') asserted against
``explain("formatted")`` output, so a refactor that silently de-optimizes
a plan (drops a broadcast, adds a shuffle, widens a scan) fails CI.

These mirror the manual `.explain` iteration SURVEY §0 prescribes
("iterate until it's the plan you'd want — not just the first one that
passed").
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(jvm_mode)


def _nodes(plan: str, name: str) -> int:
    """Count physical nodes by their numbered detail entry (the formatted
    output also repeats each node in the tree header)."""
    return len(re.findall(rf"\(\d+\) {name}\b", plan))


def _exchanges(plan: str) -> int:
    # counts real shuffles; BroadcastExchange is counted separately
    return _nodes(plan, "Exchange")


def _formatted(spark, df) -> str:
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(jvm_mode)


def test_flagship_no_forced_broadcast_aqe_converts(spark, sf_dir):
    """The per-user aggregate has unbounded cardinality (one row per
    distinct user), so the plan must NOT force a broadcast of it; at test
    scale AQE observes the sub-threshold runtime size and converts the
    shuffle join to a broadcast join itself."""
    df = QUERIES["flagship_user_activity"](spark, sf_dir)
    plan = _plan(spark, sf_dir, "flagship_user_activity")
    # static plan: fact-table shuffle for the aggregate + at most one
    # exchange for the dimension side of the join — never more
    assert 1 <= _exchanges(plan) <= 2, "flagship must shuffle at most twice"
    # events scanned once (the path appears once per scan's Location line)
    assert plan.count("events.parquet") == 1, "fact table must scan once"
    # final adaptive plan: AQE converted the join to broadcast at this SF
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final, "AQE should broadcast at test SF"
    assert "SortMergeJoin" not in final


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_equality")
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]" in plan


def test_projection_prunes_scan_schema(spark, sf_dir):
    plan = _plan(spark, sf_dir, "select_reorder")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert set(cols) == {
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"
    }, "scan must read exactly the projected columns"


def test_join_inner_equi_broadcasts_dimension(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_inner_equi")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert _exchanges(plan) == 0, "broadcast join must not shuffle either side"


def test_expression_queries_have_no_shuffle(spark, sf_dir):
    for name in ["parse_money", "parse_date_multiform", "parse_running_time",
                 "token_count", "doc_fingerprint", "multimodal_extract"]:
        plan = _plan(spark, sf_dir, name)
        assert _exchanges(plan) == 0, f"{name} is a pure map — no shuffle"


def test_orderby_limit_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "orderby_limit")
    assert "TakeOrderedAndProject" in plan, "top-k must not global-sort"


def test_similarity_topk_broadcasts_queries(spark, sf_dir):
    plan = _plan(spark, sf_dir, "similarity_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # corpus scanned once per side at most; no corpus self-shuffle join
    assert "SortMergeJoin" not in plan


def test_curation_map_queries_have_no_shuffle(spark, sf_dir):
    for name in ["text_repetition_ratio", "train_test_split", "pii_redact",
                 "embedding_quantize", "domain_mix_sample"]:
        plan = _plan(spark, sf_dir, name)
        assert _exchanges(plan) == 0, f"{name} is a pure map — no shuffle"


def test_sequence_pack_distributed_prefix_sum_shape(spark, sf_dir):
    """The two-phase prefix sum: the CORPUS passes through exactly one
    exchange (hash on the shard key); the other two exchanges carry only
    the 8 shard totals (partial agg + single-partition window); shard
    prefixes come back via broadcast, never a sort-merge join. A naive
    global-order window would show an Exchange SinglePartition on the
    corpus path instead."""
    plan = _plan(spark, sf_dir, "sequence_pack")
    assert _exchanges(plan) == 3, plan
    assert _nodes(plan, "BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    # exactly two Window nodes: the per-shard cumsum and the 8-row
    # shard-prefix window — no third (global) window anywhere
    assert _nodes(plan, "Window") == 2


def test_sessionize_batch_single_shuffle(spark, sf_dir):
    """Both windows and the final groupBy share the user_id partitioning:
    the fact table must shuffle exactly once."""
    plan = _plan(spark, sf_dir, "sessionize_batch")
    assert _exchanges(plan) == 1, plan


def test_scd2_intervals_single_shuffle(spark, sf_dir):
    """lag-window, filter, and lead-window all share the user_id
    partitioning: the change log must shuffle exactly once."""
    plan = _plan(spark, sf_dir, "scd2_intervals")
    assert _exchanges(plan) == 1, plan


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    """Bucketed tables on the join key: the SMJ and the follow-up groupBy
    on the same key must introduce NO exchange — that is the scale
    property bucketing buys. Zero-Sort is NOT asserted: Spark ≥3.0
    bucketed scans don't expose per-bucket sort order (SPARK-28632), so
    the SMJ plans a within-partition Sort per side regardless of the
    write-time sortBy; assert exactly those two so an accidental extra
    sort (e.g. from a stray orderBy) still fails."""
    df = QUERIES["bucketed_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert _exchanges(plan) == 0, plan
    assert "SortMergeJoin" in plan, "merge hint must pin SMJ"
    assert _nodes(plan, "Sort") == 2, "exactly the SMJ's two per-side sorts"


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The eval n-gram set must broadcast: the corpus-side semi-join runs
    map-side, never shuffling the exploded corpus grams."""
    plan = _plan(spark, sf_dir, "decontaminate_ngram")
    assert "BroadcastHashJoin" in plan


def test_fuzzy_join_blocks_never_cartesian(spark, sf_dir):
    """The fuzzy match must join on the (first char, last char) block key
    — an equi-join — never degrade to an all-pairs cartesian/nested-loop
    over the catalog."""
    plan = _plan(spark, sf_dir, "fuzzy_join_levenshtein")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_quantile_bucket_has_no_global_sort(spark, sf_dir):
    """Quantile binning must come from a broadcast boundary array, not an
    ntile over a global ORDER BY: zero Sort nodes anywhere in the plan
    (the exact-percentile aggregate sorts within the agg buffer, not as a
    plan node)."""
    plan = _plan(spark, sf_dir, "quantile_bucket")
    assert _nodes(plan, "Sort") == 0, plan
    assert "BroadcastExchange" in plan, "boundary array must broadcast"


def test_bm25_topk_uses_take_ordered(spark, sf_dir):
    """The top-10 must compile to TakeOrderedAndProject (per-partition
    heap + driver merge), not a global Sort; corpus stats and document
    frequencies must broadcast."""
    plan = _plan(spark, sf_dir, "bm25_rank")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_zscore_broadcasts_group_stats(spark, sf_dir):
    """The 5-row per-type stats aggregate must broadcast back onto the
    fact table (a window over the full table would shuffle every row for
    a 5-row answer)."""
    plan = _plan(spark, sf_dir, "zscore_outliers")
    assert "BroadcastHashJoin" in plan, plan


def test_bigram_counts_window_free(spark, sf_dir):
    """bigram_lm_counts promises a window-free corpus stage: adjacent
    pairs come from map-side array zipping, so the only Window in the
    plan is the conditional-probability one over the collapsed count
    table, and corpus-size work never enters a per-doc window. The scan
    must prune to the text column only."""
    plan = _plan(spark, sf_dir, "bigram_lm_counts")
    assert _nodes(plan, "Window") == 1, plan
    assert "TakeOrderedAndProject" in plan, "top-100 must not global-sort"
    m = re.search(r"ReadSchema: (.*)", plan)
    assert m and "doc_id" not in m.group(1), "scan must prune to text only"


def test_vocab_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "vocab_topk")
    assert "TakeOrderedAndProject" in plan, "top-100 must not global-sort"


def test_mad_outliers_broadcasts_stats(spark, sf_dir):
    """Both tiny stats frames (per-type median, per-type MAD) must come
    back onto the fact table as broadcasts — never a full-table window
    or a shuffled join for a 5-row side. The dev subtree is referenced
    twice (MAD aggregate + final count), so its med-broadcast repeats:
    every stats join must be broadcast (3 of them), none sort-merge."""
    plan = _plan(spark, sf_dir, "mad_outliers")
    assert _nodes(plan, "BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan


def test_table_fingerprint_single_shuffle_no_sort(spark, sf_dir):
    """One hash-aggregate shuffle on the 3-value status key; XOR is
    order-insensitive so the plan must contain no Sort at all."""
    plan = _plan(spark, sf_dir, "table_fingerprint")
    assert _exchanges(plan) == 1, plan
    assert _nodes(plan, "Sort") == 0, plan


def test_connected_components_lineage_truncated(spark, sf_dir):
    """connected_components must return a LEAF-plan frame, never a plan
    that embeds the verify lineage or every propagation round's join
    tree. r13 split: under the edge cap the components run driver-side
    (union-find) and come back as a LocalTableScan — zero jobs, zero
    exchanges in every downstream consumer plan; the over-cap
    distributed loop still returns a localCheckpoint leaf (Scan
    ExistingRDD) per round (with persist alone the analyzed plan grows
    geometrically with rounds and Catalyst pays seconds of optimization
    per downstream action on already-cached data — the r3
    curation_pipeline finding; see SCALE.md 'Cluster components')."""
    from movies_etl_spark.operators import dedup as D

    plan = _plan(spark, sf_dir, "dedup_cluster_components")
    assert D.LAST_CC_MODE == "local", "fixture edges must fit the cap"
    assert "LocalTableScan" in plan, plan
    assert "Scan parquet" not in plan, "labels must not re-embed the scan"
    assert len(plan) < 20_000, f"plan blew up to {len(plan)} chars"

    # over-cap fallback: same leaf-plan property via the per-round
    # localCheckpoint (forced by a zero cap on the same fixture edges)
    from movies_etl_spark.plans.queries_ext import _verified_near_dup_edges

    dist = D.connected_components(
        _verified_near_dup_edges(spark, sf_dir), max_local_edges=0
    )
    dplan = _formatted(spark, dist)
    assert D.LAST_CC_MODE == "distributed"
    assert "Scan ExistingRDD" in dplan, dplan
    assert "Scan parquet" not in dplan, "rounds must not re-embed the scan"
    assert len(dplan) < 20_000, f"plan blew up to {len(dplan)} chars"


def test_weighted_sample_uses_take_ordered(spark, sf_dir):
    """A-ES weighted sampling must be a pure map + TakeOrdered top-k
    (per-partition heap), never a global Sort — that is the property
    that makes it a reservoir-sampling replacement at corpus scale."""
    plan = _plan(spark, sf_dir, "weighted_sample_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert _exchanges(plan) == 0, "key assignment is map-only"


def test_ann_lsh_broadcasts_queries_no_corpus_shuffle(spark, sf_dir):
    """Sign-LSH ANN: bucketing is a per-row map on the corpus scan, the
    query set broadcasts, and only the per-bucket candidate set (not the
    corpus) reaches the ranking window — no sort-merge join anywhere."""
    plan = _plan(spark, sf_dir, "similarity_ann_lsh")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("embeddings.parquet") <= 2, "corpus scanned at most twice"


def test_ann_multiprobe_broadcasts_probes_no_corpus_shuffle(spark, sf_dir):
    """Multi-probe LSH: the probe expansion (queries × 37 XOR offsets)
    stays on the broadcast side and candidate generation is an EQUI-join
    on the probe bucket — the corpus is never shuffled and never
    Hamming-theta-joined (which would surface as a nested-loop join)."""
    plan = _plan(spark, sf_dir, "similarity_ann_multiprobe")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("embeddings.parquet") <= 2, "corpus scanned at most twice"


def test_zorder_key_is_pure_map(spark, sf_dir):
    plan = _plan(spark, sf_dir, "zorder_key")
    assert _exchanges(plan) == 0, "zkey assignment must be map-only"


def test_bigram_perplexity_broadcasts_lm(spark, sf_dir):
    """The bigram LM count table (vocabulary-squared bound) must come
    back onto the exploded corpus as a BROADCAST — the corpus is never
    sort-merge-joined or self-joined. The only shuffles are the LM count
    aggregation, its w1 conditional window, and the per-doc rollup."""
    plan = _plan(spark, sf_dir, "bigram_perplexity")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_cooccurrence_single_count_shuffle(spark, sf_dir):
    """Co-occurrence pairs are zipped map-side at both offsets and the
    union pre-combines before the single (wa, wb) count shuffle; top-50
    is TakeOrdered, never a global Sort."""
    plan = _plan(spark, sf_dir, "cooccurrence_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert _exchanges(plan) == 1, "one partial-count shuffle only"


def test_rolling_distinct_users_broadcasts_days(spark, sf_dir):
    """The distinct-days clip frame and the final DAU/WAU stitch are
    broadcast joins (tiny sides); the corpus never sort-merge-joins and
    never crosses itself per-day (the self-join formulation this query
    exists to avoid)."""
    plan = _plan(spark, sf_dir, "rolling_distinct_users")
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert _nodes(plan, "BroadcastHashJoin") >= 1, plan


def test_rollup_cascade_scans_raw_once(spark, sf_dir):
    """The rollup cascade must consume each level's partials, never
    re-scan the raw table per resolution: exactly one events scan, and
    three aggregation exchanges (hourly, daily, monthly)."""
    plan = _plan(spark, sf_dir, "rollup_cascade")
    assert plan.count("events.parquet") == 1, "raw table scanned once"
    assert _exchanges(plan) == 3, plan


def test_chunk_sliding_window_is_pure_map(spark, sf_dir):
    """Overlapping chunking must be scan-bound: sequence+slice+md5 on
    the split array, zero shuffles."""
    plan = _plan(spark, sf_dir, "chunk_sliding_window")
    assert _exchanges(plan) == 0, plan


def test_oov_rate_broadcasts_vocab(spark, sf_dir):
    """The top-k vocabulary (bounded by the vocab-size parameter) must
    come back onto the exploded corpus as a broadcast — never a
    sort-merge join of corpus-scale sides."""
    plan = _plan(spark, sf_dir, "oov_rate")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_single_scan_for_multi_consumer_frames(spark, sf_dir):
    """Frames consumed more than once must not re-scan the fact table:
    group_rare_collapse derives its corpus total from a window over the
    collapsed counts (not a second aggregate over the scan), and
    rolling_distinct_users persists the distinct (user, day) frame for
    its three consumers."""
    for name in ("group_rare_collapse", "rolling_distinct_users"):
        plan = _plan(spark, sf_dir, name)
        assert plan.count(".parquet") == 1, (name, plan)


def test_copurchase_never_self_joins(spark, sf_dir):
    """Co-purchase pairs must come from map-side basket expansion, not
    the item-item self-join (which explodes on popular items): no join
    nodes at all, one basket shuffle + one pair-count shuffle, top-25
    via TakeOrdered."""
    plan = _plan(spark, sf_dir, "copurchase_pairs")
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert _exchanges(plan) == 2, plan


def test_conditional_agg_single_aggregate(spark, sf_dir):
    """The conditional/argmax battery is ONE hash aggregate over one
    scan — conditional aggregates must not add filtered re-scans."""
    plan = _plan(spark, sf_dir, "conditional_agg")
    assert plan.count("events.parquet") == 1, plan
    assert _exchanges(plan) == 1, plan


def test_pivot_counts_single_exchange(spark, sf_dir):
    """The explicit-value bucket counts are ONE hash aggregate with one
    Exchange: conditional aggregation, not Spark's pivot, which plans a
    second aggregate (pivotfirst) behind a second Exchange."""
    from movies_etl_spark.operators import ratings as R

    plan = _plan(spark, sf_dir, "pivot_counts")
    assert _exchanges(plan) == 1, plan
    assert "pivotfirst" not in plan, plan
    ratings = spark.createDataFrame(
        [(1, 0.5), (1, 5.0), (2, 3.5), (3, None)], "movieId int, rating double"
    )
    plan = _formatted(spark, R.rating_counts(ratings))
    assert _exchanges(plan) == 1, plan
    assert "pivotfirst" not in plan, plan


def test_pagerank_single_fact_scan(spark, sf_dir):
    """The PageRank edge table is built once (persisted) from one scan
    of the fact table; the per-round joins must consume the cached edge
    frame, not rebuild the co-purchase graph per iteration."""
    plan = _plan(spark, sf_dir, "pagerank_parts")
    # every parquet mention sits inside the persisted edge relation's
    # stored description (InMemoryRelation repeats its child plan); the
    # live reads are all InMemoryTableScans — one per edge consumer
    # (outw + 2 rounds x 2 sides after the union)
    assert plan.count("InMemoryTableScan") >= 3, plan


def test_gopher_flags_map_only(spark, sf_dir):
    """The Gopher rule battery is a pure per-row expression stack: zero
    exchanges, zero Python workers — nothing may sneak a shuffle or UDF
    into the hot filter path."""
    plan = _plan(spark, sf_dir, "gopher_quality_flags")
    assert _exchanges(plan) == 0, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hopping_window_single_shuffle(spark, sf_dir):
    """The 2× hopping expansion must happen MAP-side before the partial
    aggregate: exactly one exchange (the window-keyed final agg), never
    an expansion after the shuffle."""
    plan = _plan(spark, sf_dir, "hopping_window_agg")
    assert _exchanges(plan) == 1, plan


def test_winsorize_broadcasts_group_stats(spark, sf_dir):
    """Per-group percentile stats (|event_types| rows) come back onto the
    fact table as a broadcast — the facts are never sort-merge-shuffled
    for a 5-row join side."""
    plan = _plan(spark, sf_dir, "winsorize_robust_scale")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("events.parquet") == 2, "facts + stats scan only"


def test_dedup_exact_normalized_single_shuffle(spark, sf_dir):
    """Normalize-then-hash dedup is one map + one hash aggregate: a
    single exchange on the content key."""
    plan = _plan(spark, sf_dir, "dedup_exact_normalized")
    assert _exchanges(plan) == 1, plan


def test_triangle_count_no_cartesian(spark, sf_dir):
    """Degree-ordered triangle counting must stay equi-join-only on every
    EDGE-CARRYING path — a theta formulation would surface as a
    nested-loop over the edge list. The single permitted non-equi node
    is the final 1-row × 1-row cross join that attaches n_edges to
    n_triangles."""
    plan = _plan(spark, sf_dir, "triangle_count")
    assert "CartesianProduct" not in plan
    assert _nodes(plan, "BroadcastNestedLoopJoin") <= 1, plan
    # r10: the probe side is explode(adj), so exactly THREE equi joins
    # remain (two degree-ranking attaches + the single v-side neighbor
    # join) — a fourth would mean the deleted u-side re-attach crept
    # back. Join COUNT is plan-structural; only the strategy (broadcast
    # vs shuffle) is size-dependent, so the sum over strategies is
    # stable across SFs.
    equi = sum(
        _nodes(plan, n)
        for n in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert equi == 3, plan


def test_entropy_profile_single_fact_scan(spark, sf_dir):
    """All three column profiles come from ONE events scan: GROUPING SETS
    expands rows map-side instead of re-reading the fact table per
    column (the 100 TB profile must not cost 3 scans)."""
    plan = _plan(spark, sf_dir, "entropy_profile")
    assert plan.count("events.parquet") == 1, "fact table must scan once"
    assert _nodes(plan, "Expand") == 1, plan


def test_salted_agg_balances_reducers_aqe_off(spark, sf_dir):
    """The salting must balance reducers WITHOUT AQE (the 100 TB failure
    mode is skew AQE mis-estimates). With adaptive off, the partial
    aggregate's exchange assigns rows to reducers by
    murmur3-hash(key, salt) pmod P — modeled here EXACTLY with
    F.hash(...) (Spark's HashPartitioning uses the same Murmur3Hash
    expression): the hot-key shuffle that puts ~half of lineitem on one
    reducer unsalted must spread to ≈mean per reducer salted."""
    from pyspark.sql import functions as F

    from movies_etl_spark.sources import readers

    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        li = readers.load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity"
        )
        n_part = 16
        total = li.count()
        mean = total / n_part

        def max_reducer_input(cols):
            pid = F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(n_part))
            per = (
                li.withColumn(
                    "__salt__", (F.rand(seed=42) * 16).cast("int")
                )
                .groupBy(pid.alias("pid"))
                .count()
                .agg(F.max("count").alias("m"))
                .collect()[0]["m"]
            )
            return per

        unsalted_max = max_reducer_input(["l_returnflag"])
        salted_max = max_reducer_input(["l_returnflag", "__salt__"])
        # unsalted: 3 keys over 16 reducers → the N-flag reducer holds
        # ~half the table (≥4× the mean even if two keys collide apart)
        assert unsalted_max > 4 * mean, (unsalted_max, mean)
        # salted: 48 (key, salt) groups spread by hash → near-uniform
        assert salted_max < 2.5 * mean, (salted_max, mean)

        # and the salted PLAN is the promised two-stage shape with no
        # adaptive machinery: exactly two exchanges (partial on
        # (key, salt), final on key), no AdaptiveSparkPlan node
        from movies_etl_spark.operators.skew import salted_groupby_agg

        out = salted_groupby_agg(
            li, ["l_returnflag"], {"cnt": ("l_quantity", "count")}, n_salts=16
        )
        jvm_mode = (
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        plan = out._jdf.queryExecution().explainString(jvm_mode)
        assert "AdaptiveSparkPlan" not in plan
        assert _exchanges(plan) == 2, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_salted_join_balances_reducers_aqe_off(spark, sf_dir):
    """Join-side twin of the salted-agg balance proof: with adaptive off
    and broadcast disabled, a sort-merge join on the raw hot key (75% of
    lineitem on one derived value) puts ~12× the mean on one reducer;
    salted over 8 sub-keys, the max reducer holds ≤3.5× the mean (the
    residue above 1× is two hot-salt buckets colliding mod 16 — each
    bucket alone is ~1.5× mean). Reducer assignment is modeled exactly
    as HashPartitioning does: murmur3 F.hash(join keys) pmod P."""
    from pyspark.sql import functions as F

    from movies_etl_spark.sources import readers

    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = readers.load_table(spark, sf_dir, "lineitem").select(
            F.when(F.col("l_orderkey") % 4 < 3, F.lit(0))
            .otherwise(F.col("l_orderkey") % 16)
            .alias("hk"),
            "l_quantity",
        )
        n_part = 16
        total = li.count()
        mean = total / n_part
        salted = li.withColumn(
            "__salt__",
            F.when(
                F.col("hk") == 0, (F.rand(seed=42) * 8).cast("int")
            ).otherwise(F.lit(0)),
        )

        def max_reducer_input(cols):
            pid = F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(n_part))
            return (
                salted.groupBy(pid.alias("pid"))
                .count()
                .agg(F.max("count").alias("m"))
                .collect()[0]["m"]
            )

        assert max_reducer_input(["hk"]) > 8 * mean
        assert max_reducer_input(["hk", "__salt__"]) < 3.5 * mean

        # plan shape: a real shuffle join on (key, salt) — sort-merge,
        # no broadcast, no adaptive machinery
        from movies_etl_spark.operators.skew import salted_join_hot_keys

        nat = (
            readers.load_table(spark, sf_dir, "nation")
            .filter(F.col("n_nationkey") < 16)
            .select(F.col("n_nationkey").alias("hk"), "n_name")
        )
        out = salted_join_hot_keys(
            li, nat, "hk", hot_keys=[0], n_salts=8, broadcast_small=False
        )
        plan = _formatted(spark, out)
        assert "SortMergeJoin" in plan
        assert "BroadcastHashJoin" not in plan
        assert "AdaptiveSparkPlan" not in plan
        assert "__salt__" in plan  # the salt is a join key, not dropped
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


def test_bloom_filter_lands_in_fact_scan(spark, sf_dir):
    """bloom_join_prune's mechanism: with the application-side threshold
    lowered and broadcast disabled, InjectRuntimeFilter must plant a
    might_contain(bloom_filter_agg(...)) predicate on the lineitem side
    of the join — the semi-join reduction that kills non-matching fact
    rows before the shuffle."""
    from pyspark.sql import functions as F

    from movies_etl_spark.sources import readers

    prev_thresh = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "10GB",
    )
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sel = (
            readers.load_table(spark, sf_dir, "orders")
            .filter(
                (F.col("o_orderpriority") == "1-URGENT")
                & (
                    F.col("o_orderdate").cast("date")
                    < F.lit("1995-07-01").cast("date")
                )
            )
            .select("o_orderkey")
        )
        li = readers.load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        j = li.join(sel, li.l_orderkey == sel.o_orderkey)
        plan = _formatted(spark, j)
        assert "might_contain" in plan, plan[:2000]
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_thresh,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


def test_sketch_queries_plan_shapes(spark, sf_dir):
    """Scale-shape regressions for the sketch/semantic suite: no
    cartesian products anywhere; the CMS candidate probe and the
    quantile-probe joins stay broadcast (tiny sides); HashAggregate
    partials exist (map-side combine) for the partial stages."""
    for name, checks in {
        # the only nested-loop is the documented 1-row global-estimate
        # cross join; everything else hash/broadcast
        "hll_distinct_shards": {"CartesianProduct": 0},
        "heavy_hitters_cms": {
            "CartesianProduct": 0,
            "SortMergeJoin": 0,
            "BroadcastNestedLoopJoin": 0,
        },
        "quantile_sketch_by_group": {
            "CartesianProduct": 0,
            "SortMergeJoin": 0,
            "BroadcastNestedLoopJoin": 0,
        },
        "bpe_subword_stats": {
            "CartesianProduct": 0,
            "SortMergeJoin": 0,
            "BroadcastNestedLoopJoin": 0,
        },
    }.items():
        plan = _plan(spark, sf_dir, name)
        for node, want in checks.items():
            assert _nodes(plan, node) == want, (name, node, plan[:1500])
        assert _nodes(plan, "HashAggregate") >= 2, name  # partial+final


def test_kmeans_assignment_pass_is_map_only_over_corpus(spark):
    """The r12 map-only Lloyd's assignment (`similarity._assign_cells`):
    centroids pack into ONE broadcast row and the argmin is an
    array_min over (d2, cell) structs — the corpus side must carry
    ZERO exchanges, no window, no sort. The only Exchange in the whole
    plan is the k-row centroid collect_list agg (SinglePartition); the
    pre-r12 form showed a corpus-wide vec_id hashpartitioning Exchange
    plus a Window/Sort per assignment pass — at 100 TB that was a full
    corpus shuffle per Lloyd's iteration."""
    from pyspark.sql import functions as F

    from movies_etl_spark.operators.similarity import _assign_cells

    v = spark.range(5_000).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 97).cast("double"), (F.col("id") % 89).cast("double")
        ).alias("vd"),
    )
    cents = spark.range(4).select(
        F.col("id").alias("cell"),
        F.array(F.col("id").cast("double"), F.lit(0.0)).alias("centroid"),
    )
    df = _assign_cells(v, cents)
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(jvm_mode)
    assert "Window" not in plan, plan
    assert _nodes(plan, "Sort") == 0, plan
    assert _nodes(plan, "BroadcastNestedLoopJoin") == 1, plan
    # exactly the centroid-agg exchange; a corpus-side hashpartitioning
    # exchange would make this 2+
    assert _nodes(plan, "Exchange") == 1, plan


def test_kmeans_assignment_tie_breaks_to_lowest_cell_and_empty_parity(spark):
    """Value edges of the map-only argmin: (a) equidistant centroids
    resolve to the LOWEST cell id (struct min on (d2, cell) — the old
    window's ORDER BY d2, cell); (b) an EMPTY centroid frame yields
    zero rows, matching the old crossJoin-with-empty behavior, not
    null-cell rows from array_min over an empty packed list."""
    from pyspark.sql import functions as F

    from movies_etl_spark.operators.similarity import _assign_cells

    v = spark.createDataFrame([(7,)], "vec_id bigint").select(
        "vec_id", F.array(F.lit(0.0), F.lit(0.0)).alias("vd")
    )
    cents = spark.createDataFrame(
        [(5, [1.0, 0.0]), (3, [0.0, 1.0])],
        "cell bigint, centroid array<double>",
    )
    rows = _assign_cells(v, cents).collect()
    assert len(rows) == 1
    assert rows[0]["cell"] == 3 and rows[0]["d2"] == 1.0

    empty = cents.filter(F.col("cell") < 0)
    assert _assign_cells(v, empty).count() == 0


def test_semdedup_pairs_stay_blocked(spark, sf_dir):
    """The SemDeDup pair stage must remain the guarded per-block
    Python kernel (one FlatMapGroupsInPandas over the cell key), never
    an unblocked pairwise join: no cartesian products, and exactly the
    kmeans broadcast-centroid nested loops (2 iterations × assignment),
    not a pairwise one."""
    plan = _plan(spark, sf_dir, "dedup_semantic_clusters")
    assert _nodes(plan, "CartesianProduct") == 0
    assert _nodes(plan, "FlatMapGroupsInPandas") == 1, plan[:1500]


def test_semdedup_incremental_pairs_stay_blocked(spark, sf_dir):
    """The incremental SemDeDup gate scores pairs with the same guarded
    per-block kernel as the clusters sibling (one FlatMapGroupsInPandas
    over the cell key; the late-r10 rewrite's 0.30× A/B) — a regression
    back to the per-pair fold-join would show up as zero kernel nodes,
    and an unblocked pairwise form as a cartesian product."""
    plan = _plan(spark, sf_dir, "dedup_semantic_incremental")
    assert _nodes(plan, "CartesianProduct") == 0
    assert _nodes(plan, "FlatMapGroupsInPandas") == 1, plan[:1500]


def test_zorder_layout_actually_prunes_row_groups(spark, sf_dir, tmp_path):
    """zorder_key's claim, proven with scan metrics instead of prose:
    write the same table in a hash-random layout and in the
    repartitionByRange(zkey)+sortWithinPartitions(zkey) layout the
    docstring names as the write-side companion, scan both with the
    same 2-D box predicate, and compare the parquet scan's
    numOutputRows. The z-ordered layout must let min/max row-group
    statistics discard a majority of rows before the filter (measured:
    1500 → 375 at sf0.001, 4× pruning) while the random layout reads
    everything; both layouts must return identical matches."""
    from pyspark.sql import functions as F

    zdf = QUERIES["zorder_key"](spark, sf_dir)
    rand_path = str(tmp_path / "rand")
    zord_path = str(tmp_path / "zord")
    zdf.repartition(16).write.mode("overwrite").parquet(rand_path)
    (
        zdf.repartitionByRange(16, "zkey")
        .sortWithinPartitions("zkey")
        .write.mode("overwrite")
        .parquet(zord_path)
    )

    pred = "x >= 30 AND x < 80 AND y >= 1200 AND y < 1600"

    def scan(path):
        df = spark.read.parquet(path).filter(pred)
        rows = df.collect()
        ep = df._jdf.queryExecution().executedPlan()
        scanned = ep.collectLeaves().apply(0).metrics().apply("numOutputRows").value()
        return {r["o_orderkey"] for r in rows}, scanned

    rand_rows, rand_scanned = scan(rand_path)
    zord_rows, zord_scanned = scan(zord_path)
    assert zord_rows == rand_rows and len(rand_rows) > 0
    # random layout: every file spans the full key space -> no pruning
    total = zdf.count()
    assert rand_scanned == total
    # z-ordered: min/max stats must discard at least half the rows
    assert zord_scanned <= rand_scanned / 2, (zord_scanned, rand_scanned)


def test_reference_scale_skew_join_plan(spark):
    """The skew-stress variant of the reference pipeline's join
    (bench_reference_scale.skewed_reference_join): with AQE and
    broadcast off — the state where salting is the only defense — the
    salted path must plan as a SortMergeJoin keyed on (movieId, salt)
    with no broadcast and no adaptive node, and the unsalted plan must
    show the plain single-key SMJ it degrades through. Pins the plan the
    measured 26M-row numbers in SCALE.md rode on."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import bench_reference_scale as BRS

    from movies_etl_spark.session import temp_confs

    with temp_confs(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    ):
        fact = BRS.synth_ratings(spark, 10_000, hot_fraction=0.3)
        salted = BRS.skewed_reference_join(spark, fact, salted=True)
        plan = _formatted(spark, salted)
        assert "SortMergeJoin" in plan
        assert "BroadcastHashJoin" not in plan
        assert "AdaptiveSparkPlan" not in plan
        assert "__salt__" in plan
        plain = BRS.skewed_reference_join(spark, fact, salted=False)
        plan2 = _formatted(spark, plain)
        assert "SortMergeJoin" in plan2
        assert "__salt__" not in plan2


def test_minhash_guard_plan(spark, sf_dir):
    """The batch candidate path must be the FUSED CAPPED single-shuffle
    form (r9): ONE exchange on the band key feeding a row_number cap
    window (the spillable pre-aggregation truncation ADVICE r8 asked
    for) whose partitioning the collect_list+count ObjectHashAggregate
    REUSES (partial+final with no second band exchange), the bucket
    guard's raise_error in a Filter over the post-cap count, pairs
    emitted by map-side explodes, and exactly one more exchange for the
    final distinct. Exactly ONE Window node — the cap; a second would
    mean the old standalone window guard got stacked on top — and NO
    join at all (the r7 self-join + broadcast-probe shape paid two
    extra exchanges over a persisted band table — the de-opt this pin
    exists to catch; the retired arms stay in git history). The
    incremental/streaming paths keep
    the standalone window guard by design (small delta-touched subset,
    single lineage eval)."""
    from movies_etl_spark.operators import dedup as D
    from movies_etl_spark.sources import readers

    docs = readers.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    sh = D.shingled(docs, "text", "doc_id")
    pairs = D.candidate_pairs_minhash(sh, "doc_id")
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = pairs._jdf.queryExecution().explainString(jvm_mode)
    assert "raise_error" in plan  # guard present in the plan
    # exactly ONE window: the pre-aggregation row_number cap (bounds
    # the collect_list buffer at shuffle time; its row buffer spills)
    assert _nodes(plan, "Window") == 1
    assert _nodes(plan, "Join") == 0  # fused form: no self-join at all
    # exactly two shuffles: band-key window+aggregate + pair distinct
    assert _nodes(plan, "Exchange") == 2
    # candidate generation and guard ride ONE aggregate: partial + final
    # ObjectHashAggregate REUSING the window's band-key partitioning
    assert _nodes(plan, "ObjectHashAggregate") == 2
    # the cap filter runs BEFORE the aggregate; the guard's post-cap
    # bucket count exists
    assert "__rn" in plan
    assert "__bucket_n" in plan


def test_verified_edges_single_band_exchange(spark, sf_dir):
    """Composite-level pin (VERDICT r7 #2): the LSH edge builder the
    dedup composites share (verified_edges: candidates + Jaccard
    verify) must shuffle on the band key exactly ONCE. The r7 shape
    exchanged the band table for the guard count and again for each
    self-join side; the fused generator leaves a single hashpartitioning
    over (band_id, band_key) in the whole edge plan."""
    from movies_etl_spark.plans.queries_ext import _near_corpus, verified_edges

    edges = verified_edges(_near_corpus(spark, sf_dir))
    plan = _formatted(spark, edges)
    band_exchanges = [
        line
        for line in plan.splitlines()
        if "hashpartitioning" in line and "band_key" in line
    ]
    assert len(band_exchanges) == 1, band_exchanges
    assert "raise_error" in plan  # the fused guard rides that aggregate


def test_ann_frontier_shared_frames_are_leaves(spark, sf_dir):
    """The frontier sweep's two shared frames (exact top-5, max-width
    signature) must be lineage-truncated leaves (lazy localCheckpoint,
    r10): with persist alone every one of the 8 config branches
    re-analyzed the wide signature/window subtrees at build time
    (~1.6 s of pure driver cost at sf0.1 — the same eager-analysis
    class as the k-means _centroid_boundary). The leaves bound the
    corpus to the per-config denominator scans only."""
    plan = _plan(spark, sf_dir, "ann_frontier_sweep")
    assert "Scan ExistingRDD" in plan, "shared frames must be leaf plans"
    # r11 family-complete form: signatures, exact frames, denominators,
    # the clustered fixture, and the trained-quantizer cells are ALL
    # lazy-checkpoint leaves, so the 15 config branches reference ZERO
    # parquet subtrees (the r10 form still re-embedded the scan in its
    # per-row denominators: 16 scans; pre-r10 persist form: 19)
    assert plan.count("embeddings.parquet") == 0, plan.count(
        "embeddings.parquet"
    )
    # 15 config branches × probe/window subplans; bound guards against
    # re-embedding regressions (denominator-scan form read ~535k ON TOP
    # of per-branch growth; leaf form ~490k at sf0.01; r14 shared-scan
    # form ~119k executed — the formatted bound stays as the outer net)
    assert len(plan) < 560_000, f"plan blew up to {len(plan)} chars"


def test_ann_frontier_shares_scans_across_configs(spark, sf_dir):
    """r14 shared-scan adoption (VERDICT r13 #6): candidate generation
    joins ONCE per (corpus, family) arm against a cfg-tagged probe
    union instead of once per config. Pin the executed plan's join and
    leaf-scan counts: the shared form reads 9 BroadcastHashJoins / 61
    ExistingRDD scans at sf0.01 where the per-config form read 31 / 85
    — a regression back to per-config joins trips both bounds long
    before it reaches those numbers."""
    from movies_etl_spark.plans import registry

    df = registry.QUERIES["ann_frontier_sweep"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    bhj = plan.count("BroadcastHashJoin")
    scans = plan.count("Scan ExistingRDD")
    assert bhj <= 14, f"candidate joins un-shared? BroadcastHashJoin={bhj}"
    assert scans <= 70, f"signature scans un-shared? ExistingRDD={scans}"


def test_streaming_verify_dropped_is_store_map_only(spark):
    """The promoted r11 verify shape (VERDICT r10 #3), single-store-pass
    since r19 (VERDICT r18 next-round #1): with a DERIVED candidate
    frame (no size statistic — the operator's real condition, where the
    static planner would SMJ and AQE would only rewrite after the
    store's shuffle-map pass ran), both verify joins must plan as
    BroadcastHashJoin with ZERO shuffle exchange on the store side, and
    the STORE must appear in the plan exactly ONCE — the id_b-side
    shingle lookup reads the batch frame (broadcast), never the store."""
    from pyspark.sql import functions as F

    from movies_etl_spark.streaming.ops import _verify_dropped

    store = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.array(F.col("id") % 97, F.col("id") % 89).alias("shingles"),
    )
    batch = spark.range(10_000, 10_050).select(
        F.col("id").alias("doc_id"),
        F.array(F.col("id") % 97, F.col("id") % 89).alias("shingles"),
    )
    # derived candidate frame: distinct over a projection — unsized
    cand = (
        spark.range(50)
        .select(
            (F.col("id") * 131 % 10_000).alias("id_a"),
            (F.col("id") + 10_000).alias("id_b"),
        )
        .distinct()
    )
    df = _verify_dropped(cand, store, batch)
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(jvm_mode)
    assert _nodes(plan, "BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan
    # exactly ONE shuffle exchange, candidate-sized: the fixture cand's
    # own distinct (inside the broadcast build). The r11 shape had a
    # second — the trailing dropped-ids distinct — retired in r12
    # because the anti-join consumer is set-semantic. A store-side
    # exchange (broadcast hint dropped → SMJ/shuffled-hash on either
    # verify join) would add more. (The previous per-line 'Exchange
    # hashpartitioning' regex was VACUOUS in formatted mode — the node
    # name and its hashpartitioning Arguments print on different lines;
    # review catch, r11.)
    assert _nodes(plan, "Exchange") == 1, plan
    # the store fixture is the only Range starting at 0: one scan of it
    # (the r18 shape had two — id_a AND id_b lookups both walked it)
    assert plan.count("Range (0, 10000") == 1, plan


def test_cms_join_size_fused_scans_lineitem_twice(spark, sf_dir):
    """r14 fusion adoption (the second exec-side target of VERDICT r13
    #6's budget): the estimator's two sketches ride ONE dual-counter
    lineitem pass (the filtered relation is a predicate-subset of the
    base) and the exact-rides-along term is one conditional aggregate —
    two lineitem scans total where the per-relation form read four,
    with the (seed, cell) inner-product join and the exact-side
    l_partkey join both gone (the one surviving BroadcastHashJoin is
    the 4-row seed spine)."""
    from movies_etl_spark.plans import registry

    df = registry.QUERIES["cms_join_size_estimate"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = plan.count("lineitem.parquet")
    bhj = plan.count("BroadcastHashJoin")
    assert scans == 2, f"dual-sketch pass un-fused? lineitem scans={scans}"
    assert bhj <= 1, f"cell/exact joins back? BroadcastHashJoin={bhj}"
    assert "SortMergeJoin" not in plan


def test_funnel_one_pass_scans_events_once(spark, sf_dir):
    """r14 one-pass funnel (found by tools/audit_scans.py — the
    per-stage form read events five times at runtime): one fact scan,
    and the three conditional stage minimums stack over ONE user_id
    exchange (windows share the partitioning; the dedup aggregate
    reuses it — the only other exchanges are the 1-row global count
    and its fan-out)."""
    from movies_etl_spark.plans import registry

    df = registry.QUERIES["funnel_analysis"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = plan.count("events.parquet")
    assert scans == 1, f"per-stage scans back? events scans={scans}"
    assert plan.count("SortMergeJoin") == 0 and plan.count(
        "BroadcastHashJoin"
    ) == 0, "stage joins back?"


def test_concurrency_sweep_scans_events_twice(spark, sf_dir):
    """r15 one-scan sweep-line endpoints (the VERDICT r14 #5 named
    candidate): the ±1 endpoint union read events twice and BOTH
    two-phase prefix-sum consumers re-derived it — four scans in the
    plan. The explode form leaves exactly the two consumer scans (the
    per-shard cumsum pass and the shard-totals pass — the prefix-sum
    correctness design), each fed by one explode."""
    from movies_etl_spark.plans import queries_analytics as QA
    from movies_etl_spark.plans import registry

    fn = registry.QUERIES["concurrency_sweep"]
    df = fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = plan.count("events.parquet")
    assert scans == 2, f"endpoint union back? events scans={scans}"
    saved = QA.CONCURRENCY_ONE_SCAN
    try:
        QA.CONCURRENCY_ONE_SCAN = False
        plan_u = (
            fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        QA.CONCURRENCY_ONE_SCAN = saved
    assert plan_u.count("events.parquet") == 4, "union baseline moved"


def test_recall_audits_share_one_corpus_scan(spark, sf_dir):
    """r15 shared-scan recall audits (the board's two standing
    eval-harness rows): with RECALL_SHARED_SCAN the corpus (or the
    clustered fixture) is a lazy-checkpoint leaf, so the exact arm,
    the LSH arm, and both query-set derivations reference ZERO parquet
    subtrees — 4 (eval) / 5 (clustered) resident scans become one
    materialization. The flipped gate restores the per-arm baselines,
    pinning both shapes."""
    from movies_etl_spark.plans import queries_ext as QE

    # per-arm baselines count PLAN-STRING parquet references (the
    # formatted explain), not the audit's resident-scan count: the
    # clustered fixture references embeddings twice per derivation
    # (corpus + broadcast centers), so its per-arm plan shows 8 refs
    # where the executed-plan audit counted 5 resident scans.
    for name, per_arm_scans in (
        ("ann_recall_eval", 4),
        ("ann_recall_clustered", 8),
    ):
        plan = _plan(spark, sf_dir, name)
        assert "Scan ExistingRDD" in plan, f"{name}: no checkpoint leaf"
        n = plan.count("embeddings.parquet")
        assert n == 0, f"{name}: parquet subtrees back ({n})"
        saved = QE.RECALL_SHARED_SCAN
        try:
            QE.RECALL_SHARED_SCAN = False
            n_u = _plan(spark, sf_dir, name).count("embeddings.parquet")
        finally:
            QE.RECALL_SHARED_SCAN = saved
        assert n_u == per_arm_scans, f"{name}: baseline moved ({n_u})"
