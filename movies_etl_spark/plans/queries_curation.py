"""Training-data curation queries (north star, round-2 additions):
corpus splitting, quota sampling, benchmark decontamination, repetition
quality signals, PII redaction, embedding quantization, batch
sessionization, and bucketed (exchange-free) joins.

Oracle strategy matches queries_ext.py: md5-only hashing, identical
arithmetic on both engines, floor(+0.5) instead of round() where a half
case could tie-break differently, and every float that feeds a threshold
rounded to 4 places first.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from movies_etl_spark.operators import curation as C
from movies_etl_spark.plans.registry import _t, query

# ===========================================================================
# Quality signals / filtering
# ===========================================================================


@query(
    "text_repetition_ratio",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    g AS (
        SELECT doc_id, tk,
               CASE WHEN len(tk) >= 2
                    THEN list_transform(generate_series(1, len(tk) - 1),
                                        i -> tk[i] || ' ' || tk[i + 1])
                    ELSE [] END AS g2
        FROM t)
    SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CASE WHEN len(tk) > 0
                THEN round(1.0 - CAST(len(list_distinct(tk)) AS DOUBLE)
                           / CAST(len(tk) AS DOUBLE), 4)
                ELSE 0.0 END AS dup_token_frac,
           CASE WHEN len(g2) > 0
                THEN round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
                           / CAST(len(g2) AS DOUBLE), 4)
                ELSE 0.0 END AS dup_2gram_frac
    FROM g
    """,
)
def q_text_repetition_ratio(spark, sf_dir):
    """Gopher-style repetition signals: fraction of duplicate tokens and
    duplicate word-2-grams per document — the standard cheap filter for
    boilerplate/spam in web-scale corpora (Rae et al. 2021 §A1.1).

    Pure map over the scan (array expressions, zero shuffles, zero
    Python): at 100 TB this runs at ingest speed alongside the other
    text.py signals."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    g2 = C.word_ngrams(toks, 2)
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        C.duplicate_fraction(toks).alias("dup_token_frac"),
        C.duplicate_fraction(g2).alias("dup_2gram_frac"),
    )


@query(
    "decontaminate_ngram",
    oracle="""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents),
    g AS (
        SELECT doc_id,
               CASE WHEN len(tk) >= 5
                    THEN list_transform(generate_series(1, len(tk) - 4),
                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                              || ' ' || tk[i+3] || ' ' || tk[i+4])
                    ELSE [] END AS gr
        FROM t),
    ev AS (SELECT DISTINCT unnest(gr) AS ng FROM g WHERE doc_id % 97 = 0),
    bad AS (
        SELECT DISTINCT doc_id
        FROM (SELECT doc_id, unnest(gr) AS ng FROM g WHERE doc_id % 97 <> 0) x
        JOIN ev USING (ng))
    SELECT doc_id, lang FROM t
    WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def q_decontaminate_ngram(spark, sf_dir):
    """Benchmark decontamination: drop training documents sharing any
    word-5-gram with the held-out evaluation set (docs with
    doc_id % 97 == 0 stand in for the benchmark corpus).

    Scale shape: the eval n-gram set is tiny relative to the corpus →
    build it once, BROADCAST it, and semi-join the exploded corpus grams
    against it (map-side, no corpus shuffle); only the contaminated
    doc-id set (small) shuffles for the distinct + anti-join. The corpus
    is never self-joined. This is the standard n-gram-overlap
    decontamination step (GPT-3 appendix C / PaLM §6)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    grams = C.word_ngrams(toks, 5)
    with_grams = d.select("doc_id", "lang", grams.alias("gr"))
    ev = (
        with_grams.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode("gr").alias("ng"))
        .distinct()
    )
    corpus = with_grams.filter(F.col("doc_id") % 97 != 0)
    # no .distinct() on the contaminated ids: left_anti is set-semantic
    # on its build side, so a distinct would be one extra full exchange
    # of the same rows the join carries anyway
    contaminated = (
        corpus.select("doc_id", F.explode("gr").alias("ng"))
        .join(F.broadcast(ev), "ng", "left_semi")
        .select("doc_id")
    )
    return corpus.join(contaminated, "doc_id", "left_anti").select("doc_id", "lang")


@query(
    "pii_redact",
    oracle=r"""
    WITH s AS (
        SELECT doc_id,
               text || CASE doc_id % 3
                 WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                             || '@example.com now'
                 WHEN 1 THEN ' call 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                             || ' today'
                 ELSE '' END AS raw
        FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(raw, '[a-z0-9]+@[a-z]+\.[a-z]+',
                                         '[EMAIL]', 'g'),
                          '\d{3}-\d{4}', '[PHONE]', 'g') AS clean,
           CAST(len(regexp_extract_all(raw, '[a-z0-9]+@[a-z]+\.[a-z]+'))
                + len(regexp_extract_all(raw, '\d{3}-\d{4}')) AS BIGINT) AS n_pii
    FROM s
    """,
)
def q_pii_redact(spark, sf_dir):
    """PII redaction: replace emails/phone numbers with typed placeholder
    tokens and count the spans removed. The corpus has no natural PII, so
    deterministic spans are synthesized per doc_id (same construction on
    both engines). Patterns are a Java-regex/RE2 common subset (no
    lookaround) so oracle semantics match exactly.

    Pure codegen map (regexp_replace/regexp_count) — scan-speed at
    100 TB, same class as the reference's citation-strip F4."""
    d = _t(spark, sf_dir, "documents")
    mod = F.col("doc_id") % 3
    raw = F.concat(
        F.col("text"),
        F.when(
            mod == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            mod == 1,
            F.concat(
                F.lit(" call 555-"),
                (1000 + F.col("doc_id") % 9000).cast("string"),
                F.lit(" today"),
            ),
        )
        .otherwise(F.lit("")),
    )
    return d.select(
        "doc_id",
        C.redact_pii(raw).alias("clean"),
        C.pii_count(raw).alias("n_pii"),
    )


# ===========================================================================
# Splitting / sampling
# ===========================================================================


@query(
    "train_test_split",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                     AS BIGINT) % 100 < 80 THEN 'train'
                WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                     AS BIGINT) % 100 < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def q_train_test_split(spark, sf_dir):
    """Deterministic 80/10/10 corpus split by key hash. Unlike rand()
    sampling, membership is a pure function of the key: stable across
    engines, retries, re-runs, and incremental appends — a new batch of
    documents lands in the same splits without touching old rows (the
    property that matters for a 100 TB corpus that grows daily).
    Map-only: no shuffle, no state."""
    d = _t(spark, sf_dir, "documents")
    b = C.hash_bucket(F.col("doc_id"), 100)
    return d.select(
        "doc_id",
        "lang",
        F.when(b < 80, "train").when(b < 90, "valid").otherwise("test").alias("split"),
    )


@query(
    "group_quota_sample",
    oracle="""
    SELECT doc_id, lang, rn FROM (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   AS rn
        FROM documents) t
    WHERE rn <= 50
    """,
)
def q_group_quota_sample(spark, sf_dir):
    """Per-group quota sampling: at most K=50 documents per language,
    chosen by deterministic hash order — the language-balancing step of a
    multilingual corpus (cap the head languages, keep the tail whole).

    One shuffle on the group key. At 100 TB with skewed groups the same
    plan applies with a two-stage cap (per-partition pre-limit, then the
    window) — the per-partition pre-cap is exactly what topk_per_group's
    scale note describes; reused here by construction since row_number
    over hash order IS a top-k per group."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        C.hash_order(F.col("doc_id")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 50)
    )


@query(
    "weighted_sample_topk",
    oracle="""
    WITH k AS (SELECT doc_id, lang, n_chars,
                      round(ln((CAST('0x' || substr(md5('ws:' ||
                                CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)
                                + 1) / CAST(POWER(2, 48) AS DOUBLE))
                            / n_chars, 9) AS es_key
               FROM documents)
    SELECT doc_id, lang, n_chars, es_key FROM k
    ORDER BY es_key DESC, doc_id LIMIT 100
    """,
)
def q_weighted_sample_topk(spark, sf_dir):
    """Distributed weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): each doc draws a deterministic uniform u from a
    purpose-salted 48-bit hash and ranks by ln(u)/weight (the log form
    of u^(1/w)); the top-k by that key IS a weighted sample — here
    weight = n_chars, the sample-proportional-to-length draw a curation
    run uses for eval-set construction.

    The scale property is the whole point of A-ES: the key is a pure
    per-row map (no global state, no sequential scan like classic
    reservoir sampling), so the sample is a TakeOrdered top-k — heap per
    partition + driver merge, never a global sort, and resumable/stable
    across retries because u is hash-derived, not rand(). ln() is
    rounded to 9 places before ranking so both engines rank identical
    keys (libm last-ulp); the boundary tie-break is (key, doc_id), a
    total order."""
    d = _t(spark, sf_dir, "documents")
    h48 = F.conv(
        F.substring(F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))), 1, 12),
        16,
        10,
    ).cast("long")
    u = (h48 + F.lit(1)) / F.lit(float(2**48))
    es_key = F.round(F.log(u) / F.col("n_chars"), 9)
    return (
        d.select("doc_id", "lang", "n_chars", es_key.alias("es_key"))
        .orderBy(F.col("es_key").desc(), "doc_id")
        .limit(100)
    )


#: per-language keep-rates (basis points of 10000) for corpus mixing:
#: downsample the head language toward a more uniform mixture.
_MIX_RATES_BP = {"de": 10000, "en": 5000, "es": 8000, "fr": 10000, "zh": 6000}


@query(
    "domain_mix_sample",
    oracle=f"""
    SELECT doc_id, lang, source FROM documents
    WHERE CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 12)
               AS BIGINT) % 10000
          < CASE lang
              {" ".join(f"WHEN '{lg}' THEN {bp}" for lg, bp in sorted(_MIX_RATES_BP.items()))}
              ELSE 10000 END
    """,
)
def q_domain_mix_sample(spark, sf_dir):
    """Domain/language mixture sampling: downsample each language to a
    target keep-rate (basis points) by deterministic key hash — the
    mixture-reweighting step of multilingual corpus assembly (cap the
    head language, keep tails whole), with the same stability property
    as train_test_split: membership is a pure function of the key, so
    appends and re-runs never resample old rows.

    The hash is SALTED with the purpose tag ('mix:') so this decision is
    independent of the split decision — reusing one hash for both would
    correlate "sampled out" with "test split" and bias both. Map-only,
    zero shuffles."""
    d = _t(spark, sf_dir, "documents")
    b = C.hash_bucket(
        F.concat(F.lit("mix:"), F.col("doc_id").cast("string")), 10000
    )
    rate = F.lit(10000)
    for lg, bp in sorted(_MIX_RATES_BP.items()):
        rate = F.when(F.col("lang") == lg, bp).otherwise(rate)
    return d.filter(b < rate).select("doc_id", "lang", "source")


@query(
    "sequence_pack",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                    AS BIGINT) % 8 AS shard,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents),
    c AS (
        SELECT doc_id, n,
               CAST(sum(n) OVER (ORDER BY shard, h, doc_id
                                 ROWS UNBOUNDED PRECEDING) - n AS BIGINT)
                   AS cum_before
        FROM t)
    SELECT doc_id, n AS n_tokens,
           cum_before // 512 AS seq_first,
           (cum_before + n - 1) // 512 AS seq_last,
           cum_before % 512 AS bin_offset
    FROM c
    """,
)
def q_sequence_pack(spark, sf_dir):
    """Sequence packing (GPT-style concat-and-chunk): lay the corpus out
    in a deterministic pseudo-random order, then cut the concatenated
    token stream into fixed 512-token training sequences; each document
    reports the sequence span it occupies and its offset in the first
    one. Documents may straddle sequence boundaries — the standard
    packing that wastes zero tokens (vs first-fit binning, which is
    inherently sequential and engine-unfriendly).

    Scale shape: the global running offset uses the two-phase
    distributed prefix sum (curation.global_running_offset) — per-shard
    window cumsum in parallel, then only the 8 shard TOTALS pass through
    a serial window — never a single-task global sort. One shuffle of
    the corpus (on the shard key)."""
    d = _t(spark, sf_dir, "documents")
    budget = 512
    t = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n"),
        C.hash_bucket(F.col("doc_id"), 8).alias("shard"),
        C.hash_order(F.col("doc_id")).alias("h"),
    )
    off = C.global_running_offset(t, "n", "shard", [F.col("h"), F.col("doc_id")])
    cb = F.col("cum_before")
    return off.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.floor(cb / budget).cast("long").alias("seq_first"),
        F.floor((cb + F.col("n") - 1) / budget).cast("long").alias("seq_last"),
        (cb % budget).alias("bin_offset"),
    )


# ===========================================================================
# Embedding quantization
# ===========================================================================


@query(
    "embedding_quantize",
    oracle="""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        FROM embeddings),
    s AS (
        SELECT vec_id, vd,
               list_max(list_transform(vd, x -> abs(x))) / 127.0 AS scale
        FROM v)
    SELECT vec_id,
           round(scale, 4) AS scale_r,
           CASE WHEN scale = 0 THEN
                    array_to_string(list_transform(vd, x -> 0), ',')
                ELSE
                    array_to_string(list_transform(vd,
                        x -> CAST(floor(x / scale + 0.5) AS INT)), ',')
           END AS q_str
    FROM s
    """,
)
def q_embedding_quantize(spark, sf_dir):
    """Symmetric int8 quantization per embedding vector (scale =
    max|v|/127): 4x memory reduction for the ANN corpus — the standard
    storage format for billion-vector indexes. Map-only array
    expressions; quantized levels use floor(+0.5), which is defined
    identically on every engine (round()'s half-case is not), so the
    oracle reproduces the exact integers. Output levels are serialized to
    a CSV string so the driver's value hash sees a scalar column."""
    e = _t(spark, sf_dir, "embeddings")
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = C.int8_scale(vd)
    q = C.int8_quantize(vd, scale)
    return e.select(
        "vec_id",
        F.round(scale, 4).alias("scale_r"),
        F.array_join(q.cast("array<string>"), ",").alias("q_str"),
    )


# ===========================================================================
# End-to-end curation pipeline composite
# ===========================================================================


def _curation_pipeline_oracle() -> str:
    from movies_etl_spark.plans.queries_ext import (
        _BAND_COLS_SQL,
        _CAND_UNION_SQL,
        _INT_SHINGLES_SQL,
        _NEAR_CORPUS_SQL,
        _SIG_COLS_SQL,
    )

    return f"""
    WITH RECURSIVE corp0 AS ({_NEAR_CORPUS_SQL}),
    tok AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM corp0),
    qual AS (
        SELECT doc_id, text, tk FROM tok
        WHERE len(tk) >= 10
          AND round(1.0 - CAST(len(list_distinct(tk)) AS DOUBLE)
                    / CAST(len(tk) AS DOUBLE), 4) <= 0.5),
    g_ev AS (
        SELECT CASE WHEN len(tk) >= 5
                    THEN list_transform(generate_series(1, len(tk) - 4),
                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                              || ' ' || tk[i+3] || ' ' || tk[i+4])
                    ELSE [] END AS gr
        FROM tok WHERE doc_id % 97 = 0),
    ev AS (SELECT DISTINCT unnest(gr) AS ng FROM g_ev),
    g_corp AS (
        SELECT doc_id,
               CASE WHEN len(tk) >= 5
                    THEN list_transform(generate_series(1, len(tk) - 4),
                         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                              || ' ' || tk[i+3] || ' ' || tk[i+4])
                    ELSE [] END AS gr
        FROM qual WHERE doc_id % 97 <> 0),
    bad AS (
        SELECT DISTINCT doc_id
        FROM (SELECT doc_id, unnest(gr) AS ng FROM g_corp) x
        JOIN ev USING (ng)),
    clean AS (
        SELECT doc_id, text FROM qual
        WHERE doc_id % 97 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM bad)),
    shing AS ({_INT_SHINGLES_SQL.format(corpus="SELECT doc_id, text FROM clean")}),
    sig0 AS (SELECT doc_id, shingles, {_SIG_COLS_SQL} FROM shing),
    sig AS (SELECT *, {_BAND_COLS_SQL} FROM sig0),
    cand AS ({_CAND_UNION_SQL}),
    edges AS (
        SELECT c.id_a, c.id_b FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b
        WHERE len(sa.shingles) > 0 AND len(sb.shingles) > 0
          AND round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                / CAST(len(list_distinct(sa.shingles || sb.shingles)) AS DOUBLE), 4) >= 0.5),
    bidir AS (
        SELECT id_a AS u, id_b AS v FROM edges
        UNION SELECT id_b, id_a FROM edges
        UNION SELECT id_a, id_a FROM edges
        UNION SELECT id_b, id_b FROM edges),
    reach AS (
        SELECT u, v FROM bidir
        UNION
        SELECT r.u, b.v FROM reach r JOIN bidir b ON r.v = b.u),
    dropped AS (SELECT u AS doc_id FROM reach GROUP BY u HAVING min(v) <> u)
    SELECT c.doc_id, md5(c.text) AS text_hash,
           CASE WHEN CAST('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 12)
                     AS BIGINT) % 100 < 80 THEN 'train'
                WHEN CAST('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 12)
                     AS BIGINT) % 100 < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM clean c
    WHERE c.doc_id NOT IN (SELECT doc_id FROM dropped)
    """


@query("curation_pipeline", oracle=_curation_pipeline_oracle())
def q_curation_pipeline(spark, sf_dir):
    """THE nightly 100 TB curation run as one query: cheap quality
    signals (token count ≥ 10, duplicate-token fraction ≤ 0.5) →
    benchmark decontamination (drop docs sharing a word-5-gram with the
    raw eval set) → MinHash-LSH near-dedup with connected-component
    survivor selection → deterministic train/valid/test assignment.

    Stage ORDER is the scale design: map-only quality filters prune
    first (scan-speed, shrink everything downstream), the broadcast
    decontamination semi-join prunes second, and only the surviving
    corpus pays the LSH banding + component shuffles; the split column
    is a free map at the end. Every stage is the already-audited
    standalone operator — this composite exists because chaining is
    where partition-alignment mistakes appear, and the oracle replays
    the full chain in SQL to pin the composition, not just the parts."""
    from movies_etl_spark.operators import dedup as D
    from movies_etl_spark.operators import text as TX
    from movies_etl_spark.plans.queries_ext import _near_corpus, verified_edges

    corp = _near_corpus(spark, sf_dir)
    toks = TX.tokens(F.col("text"))
    qual = corp.filter(
        (F.size(toks) >= 10) & (C.duplicate_fraction(toks) <= 0.5)
    )
    ev = (
        corp.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(C.word_ngrams(toks, 5)).alias("ng"))
        .distinct()
    )
    corpus2 = qual.filter(F.col("doc_id") % 97 != 0)
    # no .distinct() on the contaminated ids: the sole consumer is the
    # left_anti below, set-semantic on its build side
    contaminated = (
        corpus2.select("doc_id", F.explode(C.word_ngrams(toks, 5)).alias("ng"))
        .join(F.broadcast(ev), "ng", "left_semi")
        .select("doc_id")
    )
    # the cleaned corpus feeds BOTH the LSH edge builder and the final
    # survivors anti-join — persist it so the quality filter + n-gram
    # decontamination (the explode-heavy stages) run once, not once per
    # consumer. At 100 TB this persist is the stage boundary a real run
    # would checkpoint to storage between the cheap filters and the
    # expensive dedup.
    from movies_etl_spark.operators import caching

    clean = caching.tracked_persist(
        corpus2.join(contaminated, "doc_id", "left_anti").select("doc_id", "text")
    )
    comp = D.connected_components(verified_edges(clean))
    dropped = comp.filter(F.col("component") != F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    survivors = clean.join(dropped, "doc_id", "left_anti")
    b = C.hash_bucket(F.col("doc_id"), 100)
    return survivors.select(
        "doc_id",
        TX.content_hash(F.col("text")).alias("text_hash"),
        F.when(b < 80, "train").when(b < 90, "valid").otherwise("test").alias("split"),
    )


# ===========================================================================
# Batch sessionization (gaps-and-islands twin of session_window)
# ===========================================================================


@query(
    "sessionize_batch",
    oracle="""
    WITH e AS (SELECT user_id, CAST(date_trunc('second', ts) AS TIMESTAMP) AS s
               FROM events),
    marked AS (
        SELECT user_id, s,
               CASE WHEN s - lag(s) OVER (PARTITION BY user_id ORDER BY s)
                         > INTERVAL 30 MINUTE
                     OR lag(s) OVER (PARTITION BY user_id ORDER BY s) IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM e),
    grp AS (
        SELECT user_id, s,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY s
                                ROWS UNBOUNDED PRECEDING) AS g
        FROM marked)
    SELECT user_id, min(s) AS session_start, max(s) AS session_end,
           count(*) AS n_events,
           CAST(date_diff('second', min(s), max(s)) AS BIGINT) AS duration_sec
    FROM grp GROUP BY user_id, g
    """,
)
def q_sessionize_batch(spark, sf_dir):
    """Batch sessionization via gaps-and-islands window functions (lag →
    new-session flag → running sum → group), the third sessionizer twin
    (vs native session_window and the applyInPandasWithState stateful
    op). This is the formulation for HISTORICAL re-sessionization of a
    100 TB event archive, where no streaming state is wanted: both
    windows and the final groupBy share the user_id partitioning, so the
    fact table shuffles exactly once. Same-second ties are safe: tied
    rows have gap 0, so session assignment is order-independent."""
    from movies_etl_spark.sources import readers

    ev = readers.load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("second", F.col("ts")).alias("s")
    )
    w_lag = Window.partitionBy("user_id").orderBy("s")
    marked = ev.select(
        "user_id",
        "s",
        F.when(
            (F.col("s").cast("long") - F.lag("s").over(w_lag).cast("long") > 1800)
            | F.lag("s").over(w_lag).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = marked.select("user_id", "s", F.sum("new_s").over(w_run).alias("g"))
    return grp.groupBy("user_id", "g").agg(
        F.min("s").alias("session_start"),
        F.max("s").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("s").cast("long") - F.min("s").cast("long")).alias("duration_sec"),
    ).drop("g")


# ===========================================================================
# Bucketed (exchange-free) join
# ===========================================================================


@query(
    "bucketed_join",
    oracle="""
    SELECT c_custkey, c_name, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_spent
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def q_bucketed_join(spark, sf_dir):
    """Co-located join via bucketed tables: both sides are written
    bucketed (8 buckets) on the join key, so the sort-merge join — and
    the groupBy on the same key after it — run with ZERO exchanges
    (asserted in tests/test_plan_shapes.py). Spark ≥3.0 bucketed scans
    deliberately do NOT report per-bucket sort order (SPARK-28632, the
    legacy `bucketedTableScan.outputOrdering` conf defaults false), so
    the SMJ still plans a within-partition Sort on each side; the scale
    property bucketing buys is exchange elimination — the shuffle, not
    the sort, is what dominates a repeatedly-joined 100 TB fact table.

    Pay the key shuffle once at write time, then every downstream
    join/agg on that key is shuffle-free. Tables land under the scratch
    dir via an explicit path (in-memory catalog, no metastore
    dependency) and are written once per (process, sf) then reused — a
    plan test, parity test, and bench invocation in the same session
    share one write, mirroring the write-once/read-many economics the
    pattern exists for. The merge hint pins SMJ so the demonstration
    doesn't degrade to a broadcast join at test scale."""
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    base = f"/tmp/movies_etl_scratch/{os.getpid()}/bucketed-{sf_tag}"
    t_o, t_c = f"bkt_orders_{sf_tag}", f"bkt_customer_{sf_tag}"
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    for name, df, key in ((t_o, o, "o_custkey"), (t_c, c, "c_custkey")):
        if spark.catalog.tableExists(name):
            continue  # written earlier this session for this sf — reuse
        (
            df.write.format("parquet")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{base}/{name}")
            .mode("overwrite")
            .saveAsTable(name)
        )
    ob, cb = spark.table(t_o), spark.table(t_c)
    j = cb.hint("merge").join(ob, cb["c_custkey"] == ob["o_custkey"])
    return j.groupBy("c_custkey", "c_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
    )


@query(
    "gopher_quality_flags",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               round(CAST(length(text) - (len(string_split(text, ' ')) - 1)
                     AS DOUBLE) / len(string_split(text, ' ')), 4)
                   AS mean_word_len,
               round((length(text) - length(replace(text, '#', ''))
                      + (length(text) - length(replace(text, '...', ''))) / 3)
                     * 1.0 / len(string_split(text, ' ')), 4) AS symbol_ratio,
               round(CAST(len(list_filter(string_split(text, ' '),
                          t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
                     / len(string_split(text, ' ')), 4) AS alpha_frac,
               CAST(len(list_intersect(string_split(text, ' '),
                    ['the', 'a', 'of', 'and', 'to'])) AS BIGINT) AS stop_hits
        FROM documents)
    SELECT *,
           (n_words BETWEEN 50 AND 100000) AND
           (mean_word_len BETWEEN 3 AND 10) AND
           (symbol_ratio < 0.1) AND (alpha_frac > 0.8) AND
           (stop_hits >= 2) AS passes
    FROM m
    """,
)
def q_gopher_quality_flags(spark, sf_dir):
    """Gopher-style rule battery (Rae et al. 2021, public heuristics):
    word-count bounds, mean word length 3-10, symbol-to-word ratio
    (#/ellipsis) < 0.1, >80% of words containing a letter, and ≥2 common
    stopwords present — the standard pre-filter stack before model-based
    quality scoring (text_quality_score is the continuous cousin; this
    is the hard gate). Pure codegen column arithmetic, zero shuffles,
    zero UDFs; every metric is rounded before its threshold so the
    pass/fail decision is identical in both engines."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks)
    mean_wl = F.round(
        (F.length("text") - (n_words - 1)).cast("double") / n_words, 4
    )
    sym = F.round(
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
            + (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))
            )
            / 3
        )
        * 1.0
        / n_words,
        4,
    )
    alpha = F.round(
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("double")
        / n_words,
        4,
    )
    stops = F.size(
        F.array_intersect(
            toks, F.array(*[F.lit(s) for s in ["the", "a", "of", "and", "to"]])
        )
    ).cast("long")
    m = d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym.alias("symbol_ratio"),
        alpha.alias("alpha_frac"),
        stops.alias("stop_hits"),
    )
    return m.withColumn(
        "passes",
        F.col("n_words").between(50, 100000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("symbol_ratio") < 0.1)
        & (F.col("alpha_frac") > 0.8)
        & (F.col("stop_hits") >= 2),
    )


# ===========================================================================
# End-to-end LLM-corpus composite (round 6)
# ===========================================================================


def _llm_corpus_oracle() -> str:
    """Replay the ENTIRE chain — corpus planting, quality gate, exact
    dedup, MinHash near-dedup, SemDeDup, decontamination, BPE training/
    encoding, and sequence packing — as one generated CTE chain: every
    stage reuses the fragment its standalone oracle uses (_NEAR_CORPUS /
    shingle/sig/band/cand, the shared kmeans_cte, the parameterized
    _bpe_oracle), so the composite pins the COMPOSITION, not new
    machinery."""
    from movies_etl_spark.plans.queries_ext import (
        _BAND_COLS_SQL,
        _CAND_UNION_SQL,
        _COS_SQL,
        _INT_SHINGLES_SQL,
        _NEAR_CORPUS_SQL,
        _SIG_COLS_SQL,
        kmeans_cte,
    )
    from movies_etl_spark.plans.queries_scale import (
        SEMDEDUP_TAU,
        _bpe_oracle,
        _bpe_pack_final,
    )

    ngram5 = (
        "list_transform(generate_series(1, len(tk) - 4), "
        "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' "
        "|| tk[i+3] || ' ' || tk[i+4])"
    )
    cos = _COS_SQL.format(a="a.embedding", b="b.embedding")
    # MATERIALIZED on the multi-referenced stage CTEs: DuckDB inlines
    # CTEs by default, and the BPE w-chain references its predecessor
    # twice per iteration — inlined, w8 re-expands the ENTIRE upstream
    # dedup chain 2^8 times (measured: fd exhaustion from thousands of
    # re-opened parquet scans). Materializing the stage boundaries makes
    # the oracle evaluate each stage once, mirroring the Spark side's
    # persisted checkpoints.
    prelude = f"""corp AS MATERIALIZED (
        {_NEAR_CORPUS_SQL}
        UNION ALL
        SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 73 = 0
        UNION ALL
        SELECT d.doc_id + 3000000,
               array_to_string(list_slice(string_split(d.text, ' '), 1, 10),
                               ' ')
               || ' ' ||
               array_to_string(list_slice(string_split(ev.text, ' '), 1, 5),
                               ' ')
        FROM documents d
        JOIN documents ev ON ev.doc_id = 97 * ((d.doc_id // 83) % 6)
        WHERE d.doc_id % 83 = 0
          AND len(string_split(d.text, ' ')) >= 10),
    qual AS (
        SELECT doc_id, text
        FROM (SELECT doc_id, text, string_split(text, ' ') AS tk FROM corp)
        WHERE len(tk) >= 10
          AND round(1.0 - CAST(len(list_distinct(tk)) AS DOUBLE)
                    / CAST(len(tk) AS DOUBLE), 4) <= 0.5),
    ex AS MATERIALIZED (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM qual) WHERE rn = 1),
    shing AS ({_INT_SHINGLES_SQL.format(corpus="SELECT doc_id, text FROM ex")}),
    sig0 AS (SELECT doc_id, shingles, {_SIG_COLS_SQL} FROM shing),
    sig AS MATERIALIZED (SELECT *, {_BAND_COLS_SQL} FROM sig0),
    cand AS ({_CAND_UNION_SQL}),
    mh_drop AS (
        SELECT DISTINCT c.id_b AS doc_id FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b
        WHERE len(sa.shingles) > 0 AND len(sb.shingles) > 0
          AND round(CAST(len(list_intersect(sa.shingles, sb.shingles))
                         AS DOUBLE)
                / CAST(len(list_distinct(sa.shingles || sb.shingles))
                       AS DOUBLE), 4) >= 0.5),
    mh AS MATERIALIZED (SELECT doc_id, text FROM ex
           WHERE doc_id NOT IN (SELECT doc_id FROM mh_drop)),
    {kmeans_cte()},
    asg_r AS (SELECT vec_id, cell, round(d2, 4) AS d2 FROM a2),
    memb AS MATERIALIZED (SELECT m.doc_id, g.cell, g.d2, e.embedding
             FROM mh m JOIN asg_r g ON g.vec_id = m.doc_id
                       JOIN embeddings e ON e.vec_id = m.doc_id),
    sem_victims AS (
        SELECT DISTINCT CASE WHEN a.d2 < b.d2 THEN a.doc_id
                             ELSE b.doc_id END AS doc_id
        FROM memb a JOIN memb b ON a.cell = b.cell AND a.doc_id < b.doc_id
        WHERE round({cos}, 6) >= {SEMDEDUP_TAU}),
    sem AS (SELECT doc_id, text FROM mh
            WHERE doc_id NOT IN (SELECT doc_id FROM sem_victims)),
    ev AS (SELECT DISTINCT unnest(gr) AS ng FROM (
        SELECT CASE WHEN len(tk) >= 5 THEN {ngram5} ELSE [] END AS gr
        FROM (SELECT string_split(text, ' ') AS tk FROM documents
              WHERE doc_id % 97 = 0))),
    noneval AS (SELECT doc_id, text FROM sem
                WHERE doc_id NOT IN (SELECT doc_id FROM documents
                                     WHERE doc_id % 97 = 0)),
    g_corp AS (SELECT doc_id,
                      CASE WHEN len(tk) >= 5 THEN {ngram5} ELSE [] END AS gr
               FROM (SELECT doc_id, string_split(text, ' ') AS tk
                     FROM noneval)),
    contaminated AS (
        SELECT DISTINCT doc_id
        FROM (SELECT doc_id, unnest(gr) AS ng FROM g_corp) x
        JOIN ev USING (ng)),
    clean AS MATERIALIZED (SELECT doc_id, text FROM noneval
              WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
    """
    return _bpe_oracle(
        8,
        final_select=_bpe_pack_final("clean"),
        carry_word=True,
        corpus_ref="clean",
        prelude_ctes=prelude,
    )


@query("llm_corpus_pipeline", oracle=_llm_corpus_oracle())
def q_llm_corpus_pipeline(spark, sf_dir):
    """THE end-to-end LLM training-corpus build, as one oracle-paired
    query: raw corpus (with planted exact AND near duplicates so every
    dedup stage is non-vacuous) → row-level quality gate → exact dedup
    (content-hash, keep first) → MinHash-LSH near-dedup (drop docs with
    a verified smaller-id partner) → SemDeDup (frozen k-means quantizer
    over the embedding table, within-cell cosine at τ, keep the
    atypical exemplar) → benchmark decontamination (drop docs sharing a
    word-5-gram with the eval slice) → BPE tokenizer TRAINED on the
    surviving corpus → encode → pack into 512-SUBWORD sequences. The
    output is the packed-sequence manifest a trainer's data loader
    reads.

    Every stage is the already-audited standalone operator; the
    composite exists because stage ORDER and partition alignment are
    where chained pipelines break (the curation_pipeline lesson,
    extended through the tokenizer/semantic stages). Scale shape:
    map-only quality filters prune at scan speed; exact dedup is ONE
    shuffle on the content hash; only survivors pay shingling/banding
    (band equi-join, never n²); SemDeDup pairs exist only within
    learned cells (guarded BLAS blocks, the assignment carrying vector
    and d2 through the kernel so the stage adds zero stitch-joins);
    decontamination is a broadcast semi-join; BPE's sole
    corpus-scale stage is the wordcount shuffle (the merge loop runs
    in-memory on the collected vocab — the same size contract the
    encode broadcast already assumes, with the distributed
    per-iteration loop as the over-cap fallback); packing is the
    two-phase distributed prefix sum. Stage boundaries are where a
    100 TB run would checkpoint to storage: ex persists (single
    action-tree consumer set), while mh and clean are EAGER
    localCheckpoints — mh because SemDeDup embeds it in two join
    branches, clean because the BPE count/collect and the pack action
    each re-analyze whatever plan sits under it, and a persist keeps
    the full analyzed lineage (measured: 16.4 s → 3.9 s on the train
    loop from a leaf; the local BPE loop and the vector/d2-carrying
    SemDeDup stage took the builder from 71 to ~35 jobs). The DuckDB
    oracle replays the whole chain from the standalone stages' own
    fragments; the independent python witness re-runs it from scratch
    (tests/test_ground_truth.py)."""
    from movies_etl_spark.operators import bpe as B
    from movies_etl_spark.operators import caching
    from movies_etl_spark.operators import dedup as D
    from movies_etl_spark.operators import similarity as SIM
    from movies_etl_spark.operators import text as TX
    from movies_etl_spark.plans.queries_ext import _near_corpus
    from movies_etl_spark.plans.queries_scale import SEMDEDUP_TAU

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # planted corpus: near-duplicate truncations (the MinHash stage's
    # prey), exact copies (the content-hash stage's), and CONTAMINATED
    # docs — 10 own tokens + the first 5 tokens of a cycled eval doc, so
    # each carries exactly the eval 5-grams the decontamination stage
    # exists to catch while staying clear of every earlier stage's
    # thresholds (unique text; ≤0.13 Jaccard between plants)
    ev_pick = d.select(
        F.col("doc_id").alias("__ek"), F.col("text").alias("__etext")
    ).filter(F.col("__ek") % 97 == 0)
    dtoks = TX.tokens(F.col("text"))
    contaminated_plants = (
        d.filter((F.col("doc_id") % 83 == 0) & (F.size(dtoks) >= 10))
        .withColumn(
            "__ek", F.floor(F.col("doc_id") / 83).cast("long") % 6 * 97
        )
        .join(F.broadcast(ev_pick), "__ek")
        .select(
            (F.col("doc_id") + 3000000).alias("doc_id"),
            F.concat(
                F.array_join(F.slice(dtoks, 1, 10), " "),
                F.lit(" "),
                F.array_join(F.slice(TX.tokens(F.col("__etext")), 1, 5), " "),
            ).alias("text"),
        )
    )
    corp = (
        _near_corpus(spark, sf_dir)
        .unionByName(
            d.filter(F.col("doc_id") % 73 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
        .unionByName(contaminated_plants)
    )
    # 1. quality gate (map-only: prune first, shrink everything after)
    toks = TX.tokens(F.col("text"))
    qual = corp.filter(
        (F.size(toks) >= 10) & (C.duplicate_fraction(toks) <= 0.5)
    )
    # 2. exact dedup: keep the first doc per content hash — min(struct)
    #    groupBy, not a window: identical keep-first semantics
    #    (doc_id leads the struct and is unique), but the aggregate
    #    combines MAP-SIDE, so duplicate families collapse before the
    #    shuffle instead of shipping every copy to a sorted window
    #    buffer — at 100 TB the shuffle volume drops by the duplicate
    #    factor.
    ex = caching.tracked_persist(
        qual.groupBy(TX.content_hash(F.col("text")).alias("__h"))
        .agg(F.min(F.struct("doc_id", "text")).alias("__f"))
        .select(F.col("__f.doc_id").alias("doc_id"), F.col("__f.text").alias("text"))
    )
    # 3. MinHash-LSH near-dedup: banded candidates, Jaccard-verify
    #    (the shared fused role-explode form — dedup.verify_pairs:
    #    one shingle join + one pair regroup; one full-shingle-table
    #    exchange instead of two at scale), drop the larger id of each
    #    verified pair.
    sh_all = caching.tracked_persist(D.shingled(ex, "text", "doc_id"))
    pairs = D.candidate_pairs_minhash(sh_all, "doc_id")
    verified = D.verify_pairs(pairs, sh_all)
    # Stage boundary: the MinHash survivor set is consumed by BOTH
    # branches of the SemDeDup stage (memb→victims AND the sem
    # anti-join), so without a leaf here the candidate-generate+verify
    # lineage is embedded twice in one action — the exact bidirectional-
    # union pathology connected_components eager-checkpoints against
    # (dedup.py). Eager localCheckpoint evaluates it once AND truncates
    # the plan every downstream stage re-analyzes; on a fault-tolerant
    # cluster this is a checkpoint to storage (see the docstring).
    # left_anti is set-semantic on the probe side already — no
    # .distinct() on the victim frames: each distinct would be a full
    # extra exchange of the same rows the join shuffle carries anyway.
    mh = caching.tracked_local_checkpoint(
        ex.join(
            verified.select(F.col("id_b").alias("doc_id")),
            "doc_id",
            "left_anti",
        )
    )
    # 4. SemDeDup: frozen quantizer (trained on the full embedding
    #    table), within-cell cosine, drop the member closer to its
    #    centroid (keep the atypical exemplar). The assignment carries
    #    the vector (keep_vec — no join back onto the embedding table)
    #    and the kernel carries d2 onto each pair (carry_col — no d2
    #    stitch-joins), which saves three shuffle joins with identical
    #    values: vd is the exact double cast the kernel float64-casts
    #    anyway, and d2 is the same rounded column a join would fetch.
    e = _t(spark, sf_dir, "embeddings")
    asg = caching.tracked_persist(
        SIM.kmeans_assign(e, k=4, iters=2, keep_vec=True)
    )
    memb = mh.select("doc_id").join(
        asg.withColumnRenamed("vec_id", "doc_id"), "doc_id"
    )
    sem_pairs = D.cosine_pairs_vectorized(
        memb, id_col="doc_id", vec_col="vd", block_col="cell",
        threshold=SEMDEDUP_TAU, carry_col="d2",
    )
    sem_victims = sem_pairs.select(
        F.when(F.col("d2_a") < F.col("d2_b"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("doc_id")
    )
    sem = mh.join(sem_victims, "doc_id", "left_anti")
    # 5. decontamination: the eval slice's distinct 5-grams broadcast
    #    against the survivors; eval docs themselves leave the corpus
    ev_ids = d.filter(F.col("doc_id") % 97 == 0)
    ev = (
        ev_ids.select(F.explode(C.word_ngrams(toks, 5)).alias("ng"))
        .distinct()
    )
    noneval = sem.join(ev_ids.select("doc_id"), "doc_id", "left_anti")
    contaminated = (
        noneval.select("doc_id", F.explode(C.word_ngrams(toks, 5)).alias("ng"))
        .join(F.broadcast(ev), "ng", "left_semi")
        .select("doc_id")
    )
    # Stage boundary: clean feeds the
    # BPE trainer's count+collect and the final pack action. A persist
    # caches the DATA but keeps the full analyzed plan, so each
    # downstream job re-ANALYZES the entire upstream pipeline (measured:
    # a train loop re-analyzing this lineage cost 16.4 s
    # vs 3.9 s against a leaf); localCheckpoint truncates to a
    # LogicalRDD leaf — storage checkpoint at 100 TB. Routed through
    # the caching audit registry: checkpoint blocks free on GC,
    # not per-query — see caching._CHECKPOINTED for the
    # release-discipline contract.
    clean = caching.tracked_local_checkpoint(
        noneval.join(contaminated, "doc_id", "left_anti")
    )
    # 6. BPE train on the SURVIVING corpus -> encode -> count subwords
    #    per doc -> pack into 512-subword sequences
    wc = caching.tracked_persist(B.word_counts(clean, "text"))
    _, encoded = B.bpe_train_with_vocab(spark, wc, n_merges=8)
    nsub = encoded.select(
        "word", F.size(F.split(F.col("syms"), " ")).cast("long").alias("ns")
    )
    dt = clean.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    cnt = (
        dt.join(F.broadcast(nsub), "word")
        .groupBy("doc_id")
        .agg(F.sum("ns").alias("n"))
    )
    keyed = cnt.select(
        "doc_id",
        "n",
        C.hash_bucket(F.col("doc_id"), 8).alias("shard"),
        C.hash_order(F.col("doc_id")).alias("h"),
    )
    off = C.global_running_offset(
        keyed, "n", "shard", [F.col("h"), F.col("doc_id")]
    )
    cb = F.col("cum_before")
    budget = 512
    return off.select(
        "doc_id",
        F.col("n").alias("n_subwords"),
        F.floor(cb / budget).cast("long").alias("seq_first"),
        F.floor((cb + F.col("n") - 1) / budget).cast("long").alias("seq_last"),
        (cb % budget).alias("bin_offset"),
    )
