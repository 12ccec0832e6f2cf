"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``movies_etl_spark`` package; this module is
the thin registry adapter.

Ordering note: the driver records CORRECTNESS rows for exactly the first
50 entries of ``queries()``, so ``_CURRENT_PRIORITY`` names those 50 and
everything else follows in registration order. Earlier rounds' windows
and their rotation ledgers live in git history and NOTES_r*.md.

REGISTRATION POLICY (codified after three rounds of overflow debt):
new queries register ONLY while the round's window has open slots and
are placed inside the first 50 of _CURRENT_PRIORITY at registration
time. If a late-round query cannot fit, it is NOT registered until the
next round opens (no more post-freeze registrations riding on local
verification alone); the one-round-lag path is retired. NOTES_r3–r7.md
carry the per-round rotation ledger so the judge can union the rounds
without re-deriving cohorts (NOTES_r6.md written retroactively in r7,
closing the VERDICT r6 process miss).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from movies_etl_spark.plans import flagship, registry  # noqa: E402,F401
from movies_etl_spark.plans import queries_analytics  # noqa: E402,F401
from movies_etl_spark.plans import queries_curation  # noqa: E402,F401
from movies_etl_spark.plans import queries_expr  # noqa: E402,F401
from movies_etl_spark.plans import queries_ext  # noqa: E402,F401
from movies_etl_spark.plans import queries_mlprep  # noqa: E402,F401
from movies_etl_spark.plans import queries_scale  # noqa: E402,F401

SF_SMOKE_DIR = "/root/testdata/sf0.001"

# Round-18 window (exactly 50; registered total 217 after the one r18
# addition; NOTES_r18.md carries the ledger):
#   1-21:  the COMPLETE 21-name r13-latest cohort (the union's oldest
#          rows after r17) in tools/correctness_union.py report order —
#          VERDICT r17 #1's freshness queue, led per the standing rule.
#          similarity_topk_vectorized (slot 4) doubles as the consumer
#          re-validation for the r18 probe-collect cap (VERDICT #4).
#   22:    dedup_cc_distributed — the r18 addition (VERDICT r17 #3: the
#          over-cap distributed connected-components loop as its own
#          oracle-gated row), registered inside the window per policy.
#   23-24: multimodal_extract + multimodal_frame_sample — consumers of
#          the r18 real RIFF/WAVE decode (VERDICT #5; oracles changed
#          with the operator, so re-validation is mandatory).
#   25:    from_unix_seconds — consumer of the r18 guard-band widening
#          (the r17 one-day floor was leaky under west-of-UTC driver OS
#          zones; ADVICE r16 low closed as a FIX).
#   26-27: streaming_sessionize + streaming_dedup_watermark — consumers
#          of the r18 stateful-core extraction (soak-test refactor;
#          sessionize also consumes from_unix_micros' widened band).
#   28-50: the 23 oldest r14-latest rows, union-report order (skipping
#          streaming_dedup_watermark, already slot 27). After r18 no
#          union row is older than r14 — VERDICT #1's done criterion.
_CURRENT_PRIORITY = [
    # complete r13-latest cohort, union-report order
    "decontaminate_ngram",
    "domain_mix_sample",
    "sequence_pack",
    "similarity_topk_vectorized",
    "streaming_incremental_rollup",
    "streaming_stream_join",
    "event_transitions",
    "session_paths",
    "vocab_topk",
    "bigram_lm_counts",
    "span_dedup",
    "table_fingerprint",
    "partition_stats",
    "mad_outliers",
    "data_profile",
    "streaming_cms_freq",
    "bpe_train_merges",
    "bpe_subword_stats",
    "streaming_hll_distinct",
    "bpe_pack_pipeline",
    "parse_money",
    # r18 addition + rewrite consumers (standing rule)
    "dedup_cc_distributed",
    "multimodal_extract",
    "multimodal_frame_sample",
    "from_unix_seconds",
    "streaming_sessionize",
    "streaming_dedup_watermark",
    # oldest r14-latest rows, union-report order
    "groupby_count",
    "pivot_counts",
    "sink_jdbc_roundtrip",
    "scan_error_checked",
    "funnel_analysis",
    "week_over_week",
    "hopping_window_agg",
    "winsorize_robust_scale",
    "weighted_sample_topk",
    "dedup_minhash_lsh",
    "dedup_minhash_incremental",
    "similarity_ann_lsh",
    "dedup_embedding_cosine_vectorized",
    "embedding_block_guard",
    "dedup_cluster_components",
    "dedup_survivors",
    "streaming_lsh_dedup",
    "streaming_foreach_batch_sink",
    "dedup_survivor_policy",
    "minhash_jaccard_estimate",
    "dedup_exact_normalized",
    "streaming_hopping_window",
    "lang_id_confusion",
]


def _ordered(names: dict) -> list[str]:
    """Priority cohort first (in the current round's priority order),
    then everything else in registration order.

    A priority name absent from the registry is a HARD error (ADVICE
    r9): silently dropping it would shrink the round's 50-row driver
    window with no failure — a typo or query rename must surface before
    the driver run, not after the round's rows are recorded."""
    missing = [n for n in _CURRENT_PRIORITY if n not in names]
    if missing:
        raise AssertionError(
            "_ROUND priority names not in the query registry "
            f"(typo or renamed query?): {missing}"
        )
    prioritized = [n for n in _CURRENT_PRIORITY if n in names]
    rest = [n for n in names if n not in set(prioritized)]
    return prioritized + rest


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001 (driver smoke check: runs, ≥0 rows,
    stable schema)."""
    return flagship.flagship_user_activity(spark, SF_SMOKE_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    north-star extension operators), priority-ordered (see module doc)."""
    return {name: registry.QUERIES[name] for name in _ordered(registry.QUERIES)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query; keys missing here get the
    driver's weaker rows-only check (non-SQL-expressible ops)."""
    return {
        name: registry.ORACLES[name]
        for name in _ordered(registry.QUERIES)
        if name in registry.ORACLES
    }
