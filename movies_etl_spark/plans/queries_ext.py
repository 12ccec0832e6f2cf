"""North-star extension queries: text analysis, dedup (exact / MinHash-LSH
/ SimHash / n-gram Jaccard / embedding-cosine), similarity search
(brute-force + IVF), multimodal plumbing.

Oracle strategy: every hash derives from md5 (identical in DuckDB), every
float reduction is a left-to-right double fold (bit-reproducible), and
every similarity is rounded before thresholding — so the DuckDB SQL
replicates the ALGORITHM, not just the answer. Where the corpus has no
natural duplicates, the query plants deterministic ones (id+1000000
copies) so dedup operators return non-trivial results.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from movies_etl_spark.operators import caching
from movies_etl_spark.operators import dedup as D
from movies_etl_spark.operators import multimodal as MM
from movies_etl_spark.operators import similarity as SIM
from movies_etl_spark.operators import text as TX
from movies_etl_spark.plans.registry import _t, query

# ===========================================================================
# Text analysis
# ===========================================================================


@query(
    "token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_tokens_re
    FROM documents
    """,
)
def q_token_count(spark, sf_dir):
    """Token counting: whitespace split + BPE-ish regex tokenizer. Pure
    map, codegen'd, zero shuffles."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.token_count_ws(F.col("text")).cast("long").alias("n_tokens_ws"),
        TX.token_count_regex(F.col("text")).cast("long").alias("n_tokens_re"),
    )


@query(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS avg_tok_len,
           round(CAST(len(list_filter(string_split(text, ' '),
                     t -> list_contains(['the','a','of','and','to'], t))) AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS stop_ratio,
           round(least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.5
                 + (CAST(len(list_filter(string_split(text, ' '),
                        t -> list_contains(['the','a','of','and','to'], t))) AS DOUBLE)
                    / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.3
                 + (1.0 / round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                        / CAST(len(string_split(text, ' ')) AS DOUBLE), 4)) * 0.2,
                 4) AS score
    FROM documents
    """,
)
def q_text_quality_score(spark, sf_dir):
    """Quality scoring: length/stopword/avg-token-length composite."""
    d = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return d.select(
        "doc_id",
        F.length(c).cast("long").alias("n_chars"),
        TX.token_count_ws(c).cast("long").alias("n_tokens"),
        TX.avg_token_len(c).alias("avg_tok_len"),
        F.round(
            TX.stopword_hits(TX.tokens(c), TX.LANG_STOPWORDS["en"]).cast("double")
            / TX.token_count_ws(c).cast("double"),
            4,
        ).alias("stop_ratio"),
        TX.quality_score(c).alias("score"),
    )


def _lang_hits_sql(lang: str) -> str:
    words = ",".join(f"'{w}'" for w in TX.LANG_STOPWORDS[lang])
    return (
        f"len(list_filter(string_split(text, ' '), "
        f"t -> list_contains([{words}], t)))"
    )


_LANGS = sorted(TX.LANG_STOPWORDS)
_LANG_ID_ORACLE = (
    "SELECT doc_id, lang, "
    + ", ".join(f"h_{lg}" for lg in _LANGS)
    + ", CASE "
    + " ".join(f"WHEN h_{lg} = m THEN '{lg}'" for lg in _LANGS)
    + " END AS lang_pred FROM (SELECT doc_id, lang, "
    + ", ".join(f"CAST({_lang_hits_sql(lg)} AS INTEGER) AS h_{lg}" for lg in _LANGS)
    + ", greatest("
    + ", ".join(f"CAST({_lang_hits_sql(lg)} AS INTEGER)" for lg in _LANGS)
    + ") AS m FROM documents)"
)


@query("text_lang_id", oracle=_LANG_ID_ORACLE)
def q_text_lang_id(spark, sf_dir):
    """Language-ID heuristic: stopword-hit argmax with alphabetical
    tie-break (deterministic CASE chain, mirrored verbatim in SQL)."""
    d = _t(spark, sf_dir, "documents")
    scores = TX.lang_scores(F.col("text"))
    return d.select(
        "doc_id",
        "lang",
        *[scores[lg].alias(f"h_{lg}") for lg in _LANGS],
        TX.lang_id(F.col("text")).alias("lang_pred"),
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS content_hash,
           list_reduce(
             [CAST(0 AS BIGINT)] ||
             list_transform(string_split(text, ' '),
                            t -> CAST('0x' || substr(md5(t), 1, 12) AS BIGINT)),
             (acc, v) -> (acc * 31 + v) % 1000000007) AS rolling
    FROM documents
    """,
)
def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: exact content hash + order-sensitive
    Karp-Rabin rolling hash over the token stream."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.content_hash(F.col("text")).alias("content_hash"),
        TX.rolling_hash(F.col("text")).alias("rolling"),
    )


# ===========================================================================
# Deduplication
# ===========================================================================

# Planted duplicates: corpus = documents ∪ exact copies (id+1000000) of
# every doc_id % 100 == 0, so exact-dedup has real work at any SF.
_EXACT_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 100 = 0
"""


def _exact_corpus(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return d.unionByName(dups)


@query(
    "dedup_exact",
    oracle=f"""
    SELECT md5(text) AS text_hash, min(doc_id) AS keeper,
           count(*) AS n_copies
    FROM ({_EXACT_CORPUS_SQL}) corpus
    GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup via content-hash groupBy: one shuffle on the hash,
    keeper = min id (deterministic survivor)."""
    corpus = _exact_corpus(spark, sf_dir)
    return corpus.groupBy(TX.content_hash(F.col("text")).alias("text_hash")).agg(
        F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_copies")
    )


# Near-dup corpus: base ∪ truncated copies (first n-10 tokens) of every
# doc_id % 50 == 0 with ≥20 tokens → known high-Jaccard pairs.
_NEAR_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000,
           array_to_string(list_slice(string_split(text, ' '), 1,
                           len(string_split(text, ' ')) - 10), ' ')
    FROM documents
    WHERE doc_id % 50 = 0 AND len(string_split(text, ' ')) >= 20
"""

# Same universal-hash minhash as the engine: token hash = md5-hex-prefix
# int mod P; shingle hash = (th_i·C1 + th_i+1·C2 + th_i+2) mod P;
# permutations = (a·h + b) mod P (dedup.MINHASH_SEEDS).
_INT_SHINGLES_SQL = f"""
    SELECT doc_id,
           CASE WHEN len(th) >= 3
                THEN list_transform(range(1, len(th) - 1),
                       i -> (th[i] * {D.SHINGLE_C1} + th[i+1] * {D.SHINGLE_C2}
                             + th[i+2]) % {D.MINHASH_P})
                ELSE [] END AS shingles
    FROM (SELECT doc_id,
                 list_transform(string_split(text, ' '),
                   t -> CAST('0x' || substr(md5(t), 1, 12) AS BIGINT)
                        % {D.MINHASH_P}) AS th
          FROM ({{corpus}}) corpus)
"""
_SIG_COLS_SQL = ", ".join(
    f"list_min(list_transform(shingles, h -> ({a} * h + {b}) % {D.MINHASH_P})) AS m{i}"
    for i, (a, b) in enumerate(D.MINHASH_SEEDS[: D.N_MINHASH])
)
_BAND_COLS_SQL = ", ".join(
    f"concat_ws('|', CAST(m{2 * b} AS VARCHAR), CAST(m{2 * b + 1} AS VARCHAR)) AS b{b}"
    for b in range(D.N_BANDS)
)
_CAND_UNION_SQL = " UNION ".join(
    f"SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b "
    f"ON a.b{i} = b.b{i} AND a.doc_id < b.doc_id WHERE a.b{i} <> ''"
    for i in range(D.N_BANDS)
)

_MINHASH_ORACLE = f"""
    WITH shing AS ({_INT_SHINGLES_SQL.format(corpus=_NEAR_CORPUS_SQL)}),
    sig0 AS (SELECT doc_id, shingles, {_SIG_COLS_SQL} FROM shing),
    sig AS (SELECT *, {_BAND_COLS_SQL} FROM sig0),
    cand AS ({_CAND_UNION_SQL})
    SELECT id_a, id_b, round(jac, 4) AS jac FROM (
        SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
               / CAST(len(list_distinct(sa.shingles || sb.shingles)) AS DOUBLE) AS jac
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b
        WHERE len(sa.shingles) > 0 AND len(sb.shingles) > 0)
    WHERE round(jac, 4) >= 0.5
"""


def _near_corpus(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = TX.tokens(F.col("text"))
    truncated = F.array_join(F.slice(toks, 1, F.size(toks) - 10), " ")
    dups = (
        d.filter((F.col("doc_id") % 50 == 0) & (F.size(toks) >= 20))
        .select((F.col("doc_id") + 1000000).alias("doc_id"), truncated.alias("text"))
    )
    return d.unionByName(dups)


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dedup: shingle → 8 md5-minhashes → 4 bands →
    bucket join → Jaccard-verify candidates at ≥ 0.5.

    The oracle replicates the ALGORITHM (same md5-based universal-hash
    signatures, same banding) so LSH's probabilistic recall is identical
    on both sides. Scale: candidate generation is a shuffle on band keys
    — never n²; the shingled projection is computed once and persisted
    (checkpointed table at 100 TB) because banding and verification both
    consume it."""
    corpus = _near_corpus(spark, sf_dir)
    sh_all = caching.tracked_persist(D.shingled(corpus, "text", "doc_id"))
    pairs = D.candidate_pairs_minhash(sh_all, "doc_id")
    # shared fused verify (dedup.verify_pairs): one shingle join +
    # one pair regroup — one full-shingle-table exchange instead of two
    # in the non-broadcastable regime (see the operator docstring)
    return D.verify_pairs(pairs, sh_all, keep_jaccard=True)


@query("dedup_minhash_incremental", oracle=_MINHASH_ORACLE)
def q_dedup_minhash_incremental(spark, sf_dir):
    """Incremental MinHash index maintenance (append-only re-banding):
    the SAME verified near-dup pairs as dedup_minhash_lsh, produced the
    way a daily-growing corpus produces them — the original documents
    are "yesterday's corpus" with persisted band + shingle tables
    (parquet index, written once), the planted truncated copies are
    "today's append"; the delta is shingled/banded ALONE and joined
    against the stored index (dedup.incremental_candidate_pairs), and
    the union with yesterday's known pairs is Jaccard-verified.

    The oracle is the FULL one-shot recompute in DuckDB (_MINHASH_ORACLE)
    — a structurally different formulation, so a maintenance bug (missed
    cross pair, unappended bands) fails the gate rather than being
    replayed on both sides. The engine's append-stable hashing (md5 +
    integer universal hashes) is what makes stored signatures reusable
    across batches. Scale: incremental cost is O(|delta| + matched
    buckets); the index is an append-only parquet table, and the
    delta side of the candidate join is broadcast-size in the daily
    regime."""
    from movies_etl_spark.plans.registry import _scratch

    # on-disk index schemas: explicit on every store read — skips
    # the per-read parquet schema-inference job (1 Spark job each; the
    # schema is the index contract, catalog-known in a real pipeline)
    sh_schema = "doc_id bigint, shingles array<bigint>"
    band_schema = "doc_id bigint, band_id int, band_key string"
    store = _scratch("minhash_index", sf_dir)
    corpus = _near_corpus(spark, sf_dir)
    base = corpus.filter(F.col("doc_id") < 1000000)
    delta = corpus.filter(F.col("doc_id") >= 1000000)

    # --- yesterday: build and persist the index over the base corpus ---
    # shingle once into a tracked cache; the shingle-store write and the
    # band build both consume it (re-reading the just-written shingle
    # parquet would cost one extra scan job per run; banding from the
    # cached frame is plan-identical data, and the stored index is still
    # what every candidate join below reads)
    sh_base = caching.tracked_persist(D.shingled(base, "text", "doc_id"))
    sh_base.write.mode("overwrite").parquet(f"{store}/shingles")
    D.with_minhash_bands(sh_base, "doc_id").write.mode("overwrite").parquet(
        f"{store}/bands"
    )
    index_bands = spark.read.schema(band_schema).parquet(f"{store}/bands")
    # yesterday's known pairs come FROM the index (self-join of stored
    # bands), not from a recompute of the documents
    a = index_bands.select(F.col("doc_id").alias("id_a"), "band_id", "band_key")
    b = index_bands.select(F.col("doc_id").alias("id_b"), "band_id", "band_key")
    base_pairs = (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    # --- today: band only the delta, join against the stored index ---
    sh_delta = caching.tracked_persist(D.shingled(delta, "text", "doc_id"))
    delta_bands = D.with_minhash_bands(sh_delta, "doc_id")
    new_pairs = D.incremental_candidate_pairs(index_bands, delta_bands, "doc_id")
    # no distinct on the union: the two sides are
    # DISJOINT by construction — base_pairs has both ids < 1e6 (stored
    # index self-join) while every incremental pair carries ≥ 1 delta id
    # ≥ 1e6 — and each side is internally distinct already, so a
    # .distinct() would be a redundant full exchange of the pair set.
    # verify_pairs'
    # duplicate-free precondition still holds.
    all_pairs = base_pairs.unionByName(new_pairs)

    # --- verify against the shingle store ∪ delta shingles (shared
    # fused form — dedup.verify_pairs) ---
    sh_all = spark.read.schema(sh_schema).parquet(
        f"{store}/shingles"
    ).unionByName(sh_delta)
    out = D.verify_pairs(all_pairs, sh_all, keep_jaccard=True)
    # materialize BEFORE the maintenance append: the verify plan reads
    # the shingle store, and appending the delta first would double the
    # delta's shingle rows under it (the returned frame is lazy). An
    # eager localCheckpoint pins the verified pair set without the
    # parquet round-trip (write job + read-back scan
    # — the pair set is intra-query, not part of the maintained index;
    # a production run that also stores pairs would write them from
    # this same materialized frame). Deployment caveat:
    # localCheckpoint blocks are the ONLY copy (lineage truncated) and
    # live for the session (caching._CHECKPOINTED release discipline),
    # so on a non-local cluster an executor loss loses the frame where
    # the old parquet-backed return survived — there, checkpoint to
    # fault-tolerant storage instead. Fine at pair-set scale locally.
    out = caching.tracked_local_checkpoint(out, eager=True)

    # --- maintenance: append today's bands/shingles so tomorrow's batch
    # sees today's documents in the index ---
    delta_bands.write.mode("append").parquet(f"{store}/bands")
    sh_delta.write.mode("append").parquet(f"{store}/shingles")
    return out


_SIMHASH_BIT_SQL = " + ".join(
    f"(CASE WHEN list_sum(list_transform(hashed, h -> ((h >> {j}) & 1) * 2 - 1)) > 0 "
    f"THEN {2**j} ELSE 0 END)"
    for j in range(16)
)

_SIMHASH_ORACLE = f"""
    SELECT doc_id, CAST({_SIMHASH_BIT_SQL} AS BIGINT) AS simhash
    FROM (SELECT doc_id,
                 list_transform(string_split(text, ' '),
                                t -> CAST('0x' || substr(md5(t), 1, 12) AS BIGINT)) AS hashed
          FROM documents)
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def q_dedup_simhash(spark, sf_dir):
    """SimHash fingerprints (16-bit, md5-derived, engine-portable):
    near-dup docs land within small Hamming distance. Pure map."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", D.simhash16(TX.tokens(F.col("text"))).alias("simhash")
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH shing AS ({_INT_SHINGLES_SQL.format(corpus="SELECT doc_id, text FROM documents")}),
    meta AS (SELECT d.doc_id, d.lang, d.n_chars, s.shingles
             FROM documents d JOIN shing s ON d.doc_id = s.doc_id
             WHERE len(s.shingles) > 0)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang,
           round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / CAST(len(list_distinct(a.shingles || b.shingles)) AS DOUBLE), 4) AS jac
    FROM meta a JOIN meta b
      ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
    """,
)
def q_dedup_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard within blocking keys (lang, n_chars): pairwise
    verification runs ONLY inside blocks — the blocked-join pattern that
    keeps near-dedup sub-quadratic at corpus scale. Shingles are integer
    hashes (dedup.shingle_hashes, the same SQL dedup.shingled runs) —
    set semantics survive hashing."""
    d = _t(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id",
        "lang",
        "n_chars",
        D.shingle_hashes("text").alias("shingles"),
    ).filter(F.size("shingles") > 0)
    a = sh.select(
        F.col("doc_id").alias("id_a"), "lang", "n_chars", F.col("shingles").alias("sh_a")
    )
    b = sh.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("n_chars").alias("n_chars_b"),
        F.col("shingles").alias("sh_b"),
    )
    return (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("n_chars") == F.col("n_chars_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select(
            "id_a",
            "id_b",
            "lang",
            F.round(D.jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias("jac"),
        )
    )


_COS_SQL = """
    list_reduce([CAST(0 AS DOUBLE)] ||
      list_transform(list_zip({a}, {b}),
                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
      (acc, v) -> acc + v)
    / (sqrt(list_reduce([CAST(0 AS DOUBLE)] ||
         list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
         (acc, v) -> acc + v))
       * sqrt(list_reduce([CAST(0 AS DOUBLE)] ||
         list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
         (acc, v) -> acc + v)))
"""


#: shared by the fold query and its BLAS twin: both round sims to 4
#: places (threshold on 6) before output, and the rounded values agree —
#: the last-ulp fold-vs-BLAS difference vanishes under the rounding, so
#: the twin is fully oracle-gated too.
_EMB_PAIRS_ORACLE = f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
           round({_COS_SQL.format(a="a.embedding", b="b.embedding")}, 4) AS sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round({_COS_SQL.format(a="a.embedding", b="b.embedding")}, 6) >= 0.3
    """


@query("dedup_embedding_cosine", oracle=_EMB_PAIRS_ORACLE)
def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup: pairwise ONLY within partition blocks
    (label), cosine as a bit-reproducible double fold, threshold applied
    on the rounded value (cross-engine stable)."""
    # norms precomputed per vector BEFORE the pairwise join — identical
    # doubles, one fold per pair instead of three
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding", D.l2norm_expr("embedding").alias("nrm")
    )
    a = e.select(
        F.col("vec_id").alias("id_a"), "label",
        F.col("embedding").alias("va"), F.col("nrm").alias("nrm_a"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = D.dot_expr("va", "vb") / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        a.join(
            b,
            (F.col("label") == F.col("label_b")) & (F.col("id_a") < F.col("id_b")),
        )
        .filter(F.round(cos, 6) >= 0.3)
        .select("id_a", "id_b", "label", F.round(cos, 4).alias("sim"))
    )


# ===========================================================================
# Similarity search
# ===========================================================================


#: shared by the fold query and its BLAS twin (see _EMB_PAIRS_ORACLE).
_TOPK_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM embeddings WHERE vec_id < 8),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               round({_COS_SQL.format(a="q.qvec", b="e.embedding")}, 6) AS sim
        FROM embeddings e, q WHERE e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, sim, rank FROM (
        SELECT query_id, neighbor_id, sim,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored)
    WHERE rank <= 5
    """


@query("similarity_topk", oracle=_TOPK_ORACLE)
def q_similarity_topk(spark, sf_dir):
    """Brute-force cosine top-k (exact ANN baseline): broadcast the query
    set, scan the corpus once, window top-k. Ordering on (rounded sim,
    neighbor id) is fully deterministic."""
    e = _t(spark, sf_dir, "embeddings")
    return SIM.topk_bruteforce(e, e.filter(F.col("vec_id") < 8), k=5)


@query(
    "similarity_ann_ivf",
    oracle=f"""
    WITH cent0 AS (
        SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
        FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
    cent AS (SELECT label, list(m ORDER BY i) AS centroid FROM cent0 GROUP BY label),
    q AS (SELECT vec_id AS query_id, embedding AS qvec
          FROM embeddings WHERE vec_id < 8),
    routed AS (
        SELECT q.query_id, q.qvec, c.label AS probe_label,
               round({_COS_SQL.format(a="q.qvec", b="c.centroid")}, 6) AS csim
        FROM q, cent c),
    best AS (
        SELECT query_id, qvec, probe_label FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY csim DESC, probe_label) AS r
            FROM routed) WHERE r = 1),
    scored AS (
        SELECT b.query_id, b.probe_label, e.vec_id AS neighbor_id,
               round({_COS_SQL.format(a="b.qvec", b="e.embedding")}, 6) AS sim
        FROM embeddings e JOIN best b ON e.label = b.probe_label
        WHERE e.vec_id <> b.query_id)
    SELECT query_id, probe_label, neighbor_id, sim, rank FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored)
    WHERE rank <= 3
    """,
)
def q_similarity_ann_ivf(spark, sf_dir):
    """IVF-style ANN: label column as the coarse-quantizer cell; route
    each query to its nearest centroid, exact-search only that cell.
    At scale the cell is the parquet partition key → file-level pruning."""
    e = _t(spark, sf_dir, "embeddings")
    return SIM.topk_ivf(e, e.filter(F.col("vec_id") < 8), k=3)


def _rp_bucket_sql(vec: str, planes: list[list[float]] | None = None) -> str:
    """DuckDB replica of operators.similarity.rp_bucket: the hyperplane
    constants are Python-computed decimal literals shared verbatim by
    both engines (no in-engine RNG), and each projection folds
    left-to-right exactly like the Spark side. ``planes`` defaults to
    the 8-plane family (rp_bucket); the frontier sweep passes longer
    prefixes of the same md5-derived family (rp_planes_n)."""
    terms = []
    for j, plane in enumerate(SIM.RP_PLANES if planes is None else planes):
        arr = "[" + ", ".join(repr(v) for v in plane) + "]"
        dot = (
            f"list_reduce([CAST(0 AS DOUBLE)] || "
            f"list_transform(list_zip({vec}, {arr}), "
            f"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), "
            f"(acc, v) -> acc + v)"
        )
        terms.append(f"(CASE WHEN round({dot}, 6) >= 0 THEN {1 << j} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS INT)"


_ANN_LSH_ORACLE = f"""
    WITH b AS (SELECT vec_id, embedding,
                      {_rp_bucket_sql("embedding")} AS bucket
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qvec, bucket AS qbucket
          FROM b WHERE vec_id < 8),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, e.bucket,
               round({_COS_SQL.format(a="q.qvec", b="e.embedding")}, 6) AS sim
        FROM b e JOIN q ON e.bucket = q.qbucket AND e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, bucket, sim, rank FROM (
        SELECT query_id, neighbor_id, bucket, sim,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored)
    WHERE rank <= 3
    """


@query("similarity_ann_lsh", oracle=_ANN_LSH_ORACLE)
def q_similarity_ann_lsh(spark, sf_dir):
    """Sign-LSH ANN — the third ANN flavor next to brute-force
    (similarity_topk) and IVF (similarity_ann_ivf): 8 deterministic
    random hyperplanes give every vector an 8-bit signature bucket in a
    pure per-row map; each query exact-reranks ONLY its own bucket
    (expected corpus/256 candidates) instead of the full corpus.

    Unlike IVF, no trainer is needed (hyperplanes are data-independent),
    which is why sign-LSH is the bootstrap ANN for a corpus whose
    distribution is still shifting. Scale shape: corpus bucketing rides
    the ingest scan (bucket = layout partition key, same as the IVF
    cell), queries broadcast, candidates rerank with precomputed norms —
    never a corpus shuffle. Recall is banding-limited (a true neighbor
    in another bucket is missed — multi-probe or more tables raise it);
    the top-3-within-bucket output makes that trade-off inspectable
    against similarity_topk's exact answer."""
    e = _t(spark, sf_dir, "embeddings")
    return SIM.topk_multiprobe_lsh(
        e, e.filter(F.col("vec_id") < 8), k=3, offsets=[0]
    )


_MULTIPROBE_ORACLE = f"""
    WITH b AS (SELECT vec_id, embedding,
                      {_rp_bucket_sql("embedding")} AS bucket
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qvec, bucket AS qbucket
          FROM b WHERE vec_id < 8),
    probes AS (
        SELECT query_id, qvec, xor(qbucket, off) AS probe_bucket
        FROM q, UNNEST({SIM.MULTIPROBE_OFFSETS_H2}) t(off)),
    scored AS (
        SELECT p.query_id, e.vec_id AS neighbor_id, e.bucket,
               round({_COS_SQL.format(a="p.qvec", b="e.embedding")}, 6) AS sim
        FROM b e JOIN probes p
          ON e.bucket = p.probe_bucket AND e.vec_id <> p.query_id)
    SELECT query_id, neighbor_id, bucket, sim, rank FROM (
        SELECT query_id, neighbor_id, bucket, sim,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored)
    WHERE rank <= 5
    """


@query("similarity_ann_multiprobe", oracle=_MULTIPROBE_ORACLE)
def q_similarity_ann_multiprobe(spark, sf_dir):
    """Multi-probe sign-LSH ANN (4th ANN flavor): each query probes all
    37 buckets within Hamming distance 2 of its signature and
    exact-reranks the union — the recall dial single-probe LSH lacks
    (recall@5 0.0 → ~0.35 on the isotropic test embeddings at a ~15%
    scan; tests/test_ann_recall.py pins the measured floors). Probe
    expansion is queries × 37 XOR offsets (tiny, broadcast); candidate
    generation stays an EQUI-join on the probe bucket, so at scale it
    prunes to 37 of 256 layout partitions at the file level — never a
    corpus shuffle, never a Hamming theta-join."""
    e = _t(spark, sf_dir, "embeddings")
    return SIM.topk_multiprobe_lsh(e, e.filter(F.col("vec_id") < 8), k=5)


_ANN_RERANK_ORACLE = f"""
    WITH v AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd,
                      {_rp_bucket_sql("embedding")} AS bucket
               FROM embeddings),
    s AS (SELECT vec_id, vd, bucket,
                 list_max(list_transform(vd, x -> abs(x))) / 127.0 AS scale,
                 sqrt(list_reduce([CAST(0 AS DOUBLE)] ||
                      list_transform(vd, x -> x * x),
                      (acc, y) -> acc + y)) AS nrm
          FROM v),
    sq AS (SELECT vec_id, vd, bucket, scale, nrm,
                  CASE WHEN scale = 0
                       THEN list_transform(vd, x -> CAST(0 AS BIGINT))
                       ELSE list_transform(vd,
                            x -> CAST(floor(x / scale + 0.5) AS BIGINT))
                  END AS qv
           FROM s),
    q AS (SELECT * FROM sq WHERE vec_id < 8),
    probes AS (SELECT q.vec_id AS query_id, q.vd AS qvd, q.qv AS qqv,
                      q.scale AS qscale, q.nrm AS qnrm,
                      xor(q.bucket, off) AS probe_bucket
               FROM q, UNNEST({SIM.MULTIPROBE_OFFSETS_H2}) t(off)),
    cand AS (
        SELECT p.query_id, e.vec_id AS neighbor_id, p.qvd, e.vd AS cvd,
               round(CAST(list_reduce([CAST(0 AS BIGINT)] ||
                          list_transform(list_zip(p.qqv, e.qv),
                                         x -> x[1] * x[2]),
                          (acc, y) -> acc + y) AS DOUBLE)
                     * p.qscale * e.scale / (p.qnrm * e.nrm), 6)
                   AS retrieval_sim
        FROM sq e JOIN probes p
          ON e.bucket = p.probe_bucket AND e.vec_id <> p.query_id),
    top AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY retrieval_sim DESC, neighbor_id) AS rr
            FROM cand) WHERE rr <= 20),
    rer AS (
        SELECT query_id, neighbor_id, retrieval_sim,
               round({_COS_SQL.format(a="qvd", b="cvd")}, 6) AS rerank_score
        FROM top)
    SELECT query_id, neighbor_id, retrieval_sim, rerank_score, rank FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY rerank_score DESC, neighbor_id) AS BIGINT) AS rank
        FROM rer)
    WHERE rank <= 3
"""


@query("ann_rerank", oracle=_ANN_RERANK_ORACLE)
def q_ann_rerank(spark, sf_dir):
    """Retrieve→rerank — the two-stage ANN serving pattern the rest of
    the suite sets up: a CHEAP retrieve (multi-probe sign-LSH candidates
    scored with int8-quantized dot products — the 4×-compressed index a
    billion-vector deployment actually stores) pulls top-20 candidates
    per query, then an EXPENSIVE rerank recomputes full-precision scores
    in an Arrow-batched Python worker (similarity.rerank_topk — the
    cross-encoder slot; the stub scorer is exact float64 cosine so the
    whole chain sits under the value gate, and a real model call swaps
    into the marked block with the same batch contract). Quantization
    noise (~0.5%) genuinely reorders near-ties inside the candidate
    list (measured: 7 of 8 queries' top-20 change order at sf0.01), so
    the rerank is doing real work, not relabeling. Scale: probes
    broadcast, candidates
    equi-join on probe bucket, the Python stage sees only
    |queries|·20 rows — the float vectors travel only for winners."""
    e = _t(spark, sf_dir, "embeddings")
    cands = SIM.retrieve_quantized_multiprobe(
        e, e.filter(F.col("vec_id") < 8), n_candidates=20
    )
    return SIM.rerank_topk(cands, k=3)


#: squared euclidean distance, same fold discipline as _COS_SQL
_D2_SQL = """
    list_reduce([CAST(0 AS DOUBLE)] ||
      list_transform(list_zip({a}, {b}),
        x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
             * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
      (acc, v) -> acc + v)
"""


def kmeans_cte(train_where: str = "TRUE", assign_from: str = "v") -> str:
    """The two fixed Lloyd's iterations (k=4, seeds = first k ids) as a
    WITH body — shared verbatim by the kmeans_assign oracle, the
    SemDeDup composite's oracle (queries_scale), and the incremental
    variant (which TRAINS on a base subset via ``train_where`` but
    assigns the full table), so every consumer replays the IDENTICAL
    iterations. ``a2`` assigns rows of ``assign_from`` to the final
    centroids."""
    return f"""
    v AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
          FROM embeddings),
    vt AS (SELECT * FROM v WHERE {train_where}),
    seeds AS (SELECT vec_id AS cell, vd AS centroid FROM vt WHERE vec_id < 4),
    a1 AS (
        SELECT vec_id, vd, cell FROM (
            SELECT vt.vec_id, vt.vd, s.cell,
                   row_number() OVER (PARTITION BY vt.vec_id
                       ORDER BY round({_D2_SQL.format(a="vt.vd", b="s.centroid")}, 6),
                                s.cell) AS r
            FROM vt, seeds s) WHERE r = 1),
    c10 AS (SELECT cell, i, round(avg(vd[i]), 6) AS m
            FROM a1, range(1, 65) t(i) GROUP BY cell, i),
    c1 AS (SELECT cell, list(m ORDER BY i) AS centroid FROM c10 GROUP BY cell),
    a2 AS (
        SELECT vec_id, cell, d2 FROM (
            SELECT v.vec_id, c.cell,
                   round({_D2_SQL.format(a="v.vd", b="c.centroid")}, 6) AS d2,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY round({_D2_SQL.format(a="v.vd", b="c.centroid")}, 6),
                                c.cell) AS r
            FROM {assign_from} v, c1 c) WHERE r = 1)
"""


#: default instance (trained AND assigned on the full table) — byte-same
#: semantics as the pre-refactor constant.
KMEANS_CTE = kmeans_cte()


@query(
    "kmeans_assign",
    oracle=f"""
    WITH {KMEANS_CTE}
    SELECT vec_id, cell, round(d2, 4) AS d2 FROM a2
    """,
)
def q_kmeans_assign(spark, sf_dir):
    """Lloyd's k-means (k=4, 2 fixed iterations) as pure DataFrame ops —
    the iterative-algorithm pattern and the IVF coarse-quantizer trainer
    (similarity_ann_ivf consumes a cell column; this LEARNS one).
    Deterministic end to end: seeds = first k ids, distances rounded
    before argmin, ties to the lowest cell. Per iteration the corpus is
    scanned once against broadcast centroids and shuffled once on
    (cell, position) for the mean recompute — never self-joined. The
    oracle replays both iterations verbatim in SQL."""
    e = _t(spark, sf_dir, "embeddings")
    return SIM.kmeans_assign(e, k=4, iters=2)


# ===========================================================================
# Multimodal plumbing
# ===========================================================================


@query(
    "multimodal_extract",
    oracle="""
    WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
    SELECT doc_id,
           CAST(n + 44 AS BIGINT) AS n_bytes,
           CAST(8000 + (n % 7) * 1000 AS BIGINT) AS sample_rate,
           CAST(n % 2 + 1 AS BIGINT) AS n_channels,
           CAST(n // ((n % 2 + 1) * 2) AS BIGINT) AS n_samples,
           CAST((n // ((n % 2 + 1) * 2)) * 1000
                // (8000 + (n % 7) * 1000) AS BIGINT) AS duration_ms
    FROM m
    """,
)
def q_multimodal_extract(spark, sf_dir):
    """Multimodal columns: opaque binary payload + typed metadata,
    feature-extracted via Arrow-batched mapInPandas. The decode is a REAL
    RIFF/WAVE chunk-walk + struct unpack: payloads
    are valid PCM WAV files synthesized from the text column, so the
    oracle predicts what the parser must RECOVER from the header bytes
    (sample rate, channels, sample count, duration)."""
    d = _t(spark, sf_dir, "documents")
    return MM.extract_features(MM.with_binary_payload(d))


# ===========================================================================
# Structured Streaming
# ===========================================================================


@query(
    "streaming_windowed_agg",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type, count(*) AS cnt, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_streaming_windowed_agg(spark, sf_dir):
    """S4 generalized (challenge.py:299-314): bounded micro-batch stream →
    tumbling 1-hour windowed aggregation, available-now trigger, memory
    sink. The identical plan serves an unbounded source with a watermark."""
    from movies_etl_spark.streaming import ops

    return ops.windowed_counts(spark, sf_dir)


@query(
    "streaming_sessionize",
    oracle=f"""
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
    SELECT user_id, min(s) AS session_start, count(*) AS n_events
    FROM grp GROUP BY user_id, g
    """,
)
def q_streaming_sessionize(spark, sf_dir):
    """Custom stateful streaming operator: per-user 30-min-gap session
    windows via applyInPandasWithState; oracle is the batch
    gaps-and-islands sessionization (identical semantics)."""
    from movies_etl_spark.streaming import ops

    return ops.sessionize(spark, sf_dir)


@query("similarity_topk_vectorized", oracle=_TOPK_ORACLE)
def q_similarity_topk_vectorized(spark, sf_dir):
    """Numpy/Arrow fast path for brute-force ANN. Oracle-gated:
    both twins round sims to 6 places before ranking/output, and the
    fold-vs-BLAS difference (last ulp of the unrounded double) vanishes
    under that rounding, so the fold twin's SQL is exact for this one
    too. The pair-set equality test (test_property_parity.py) remains as
    the defense-in-depth check."""
    e = _t(spark, sf_dir, "embeddings")
    return SIM.topk_bruteforce_vectorized(e, e.filter(F.col("vec_id") < 8), k=5)


_SIMHASH_CORPUS_CTE = f"""
    simh AS (
        SELECT doc_id, CAST({_SIMHASH_BIT_SQL} AS BIGINT) AS simhash
        FROM (SELECT doc_id,
                     list_transform(string_split(text, ' '),
                                    t -> CAST('0x' || substr(md5(t), 1, 12) AS BIGINT)) AS hashed
              FROM ({_NEAR_CORPUS_SQL}) corpus)
    )
"""

_SIMHASH_PAIRS_ORACLE = f"""
    WITH {_SIMHASH_CORPUS_CTE},
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS sh_a, b.simhash AS sh_b
        FROM simh a JOIN simh b
          ON a.doc_id < b.doc_id
         AND (((a.simhash >> 0) & 15) = ((b.simhash >> 0) & 15)
           OR ((a.simhash >> 4) & 15) = ((b.simhash >> 4) & 15)
           OR ((a.simhash >> 8) & 15) = ((b.simhash >> 8) & 15)
           OR ((a.simhash >> 12) & 15) = ((b.simhash >> 12) & 15)))
    SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= 2
"""


@query("dedup_simhash_pairs", oracle=_SIMHASH_PAIRS_ORACLE)
def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS: candidates from 4-bit nibble-band joins
    (a pair within Hamming distance ≤ 2 of a 16-bit fingerprint must
    agree on at least one nibble — pigeonhole), verified by exact
    popcount of the XOR. Same banding discipline as MinHash-LSH: the
    join key bounds fan-out, never n². Corpus includes the planted
    truncated near-dups."""
    corpus = _near_corpus(spark, sf_dir)
    simh = corpus.select(
        "doc_id", D.simhash16(TX.tokens(F.col("text"))).alias("simhash")
    )
    simh = caching.tracked_persist(simh)
    # explode into nibble bands
    bands = simh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band_id"),
                    F.shiftright(F.col("simhash"), 4 * i).bitwiseAND(F.lit(15)).alias("nibble"),
                )
                for i in range(4)
            ])
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.band_id").alias("band_id"), F.col("b.nibble").alias("nibble"))
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"),
        "band_id", "nibble",
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"),
        "band_id", "nibble",
    )
    cand = (
        a.join(b, ["band_id", "nibble"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 2)
        .select("id_a", "id_b", "hamming")
    )


# ===========================================================================
# Text analysis II: TF-IDF, composite quality filter
# ===========================================================================


@query(
    "text_tfidf_topterms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 4) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n)
    SELECT doc_id, term, tfidf, rank FROM (
        SELECT doc_id, term, tfidf,
               CAST(row_number() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, term) AS BIGINT) AS rank
        FROM scored)
    WHERE rank <= 3
    """,
)
def q_text_tfidf_topterms(spark, sf_dir):
    """TF-IDF as pure DataFrame ops (SURVEY §7.1.7's text-analysis item,
    without ml.feature's engine-private murmur hashing): explode → term
    frequencies → document frequencies → smoothed idf — top-3 terms per
    doc, deterministic tie-break. Two shuffles total (tf and df share the
    exploded input; the df side is vocabulary-sized → broadcast join)."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # driver scalar: one count, dimensionless
    scored = tf.join(F.broadcast(df), "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * (F.log((n_docs + 1.0) / (F.col("df") + 1.0)) + 1.0), 4
        ).alias("tfidf"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
    )


@query(
    "dedup_incremental",
    oracle="""
    WITH batch AS (
        SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0),
    survivors AS (
        SELECT b.doc_id, md5(b.text) AS text_hash FROM batch b
        WHERE NOT EXISTS (
            SELECT 1 FROM documents d
            WHERE md5(d.text) = md5(b.text) AND d.doc_id % 2 = 0))
    SELECT doc_id, text_hash FROM survivors
    """,
)
def q_dedup_incremental(spark, sf_dir):
    """Incremental (append-batch) dedup: a new batch is deduplicated
    AGAINST the existing corpus by anti-join on content hash — the
    append-only shape from SCALE.md where previously-computed hashes are
    never recomputed. Here the 'existing corpus' is the even-id half and
    the batch is every third doc re-submitted under a new id: batch docs
    with an even-id original are dropped, odd-id ones survive."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    existing = d.filter(F.col("doc_id") % 2 == 0).select(
        TX.content_hash(F.col("text")).alias("text_hash")
    )
    batch = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        TX.content_hash(F.col("text")).alias("text_hash"),
    )
    return batch.join(existing, "text_hash", "left_anti").select(
        "doc_id", "text_hash"
    )


@query(
    "training_data_filter",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               md5(text) AS text_hash,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dup_rank
        FROM documents)
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens
    FROM scored
    WHERE dup_rank = 1 AND n_tokens >= 25 AND n_chars >= 150
      AND lang IN ('en', 'de', 'fr')
    """,
)
def q_training_data_filter(spark, sf_dir):
    """The composite training-data curation pass: exact dedup (keep
    lowest id per content hash) + length floor + language allowlist in
    ONE plan — the filter chain every corpus pipeline runs before
    tokenization. One shuffle (the dedup window); all predicates are
    pushdown-eligible scans."""
    from pyspark.sql import Window as W

    d = _t(spark, sf_dir, "documents")
    w = W.partitionBy(TX.content_hash(F.col("text"))).orderBy("doc_id")
    return (
        d.withColumn("dup_rank", F.row_number().over(w))
        .withColumn("n_tokens", TX.token_count_ws(F.col("text")).cast("long"))
        .filter(
            (F.col("dup_rank") == 1)
            & (F.col("n_tokens") >= 25)
            & (F.col("n_chars") >= 150)
            & F.col("lang").isin("en", "de", "fr")
        )
        .select("doc_id", "lang", "n_tokens")
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH meta AS (
        SELECT doc_id,
               octet_length(encode(text)) // ((octet_length(encode(text)) % 2 + 1) * 2) AS n_samples,
               (octet_length(encode(text)) % 2 + 1) * 2 AS block_align
        FROM documents),
    ex AS (
        SELECT doc_id, block_align,
               unnest(range(0, (n_samples + 63) // 64)) AS i
        FROM meta)
    SELECT doc_id,
           CAST(i AS BIGINT) AS frame_idx,
           CAST(44 + i * 64 * block_align AS BIGINT) AS frame_offset
    FROM ex WHERE i % 2 = 0
    """,
)
def q_multimodal_frame_sample(spark, sf_dir):
    """1:N multimodal operator: frame sampling (every 2nd 64-sample frame)
    through mapInPandas — one input row yields a row per sampled frame
    with its byte offset into the container, the shape of a video/audio
    frame-extraction stage. The frame grid comes from a REAL header
    parse: n_samples and block_align are recovered from the
    RIFF/WAVE bytes, and offsets point at actual sample-data positions
    (44-byte canonical header + frame index × frame stride)."""
    d = _t(spark, sf_dir, "documents")
    return MM.frame_offsets(MM.with_binary_payload(d))


@query(
    "embedding_normalize",
    oracle=f"""
    SELECT vec_id,
           round(sqrt(list_reduce([CAST(0 AS DOUBLE)] ||
                 list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                 (acc, v) -> acc + v)), 6) AS nrm,
           round(CAST(embedding[1] AS DOUBLE)
                 / sqrt(list_reduce([CAST(0 AS DOUBLE)] ||
                   list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                   (acc, v) -> acc + v)), 6) AS e0_unit
    FROM embeddings
    """,
)
def q_embedding_normalize(spark, sf_dir):
    """Vector normalization (the ml.feature Normalizer shape as a native
    expression): L2 norm + first unit-vector component, scalar-projected
    for portable comparison."""
    e = _t(spark, sf_dir, "embeddings")
    nrm = D.l2norm_expr("embedding")
    e0 = F.element_at(F.col("embedding"), 1).cast("double")
    return e.select(
        "vec_id",
        F.round(nrm, 6).alias("nrm"),
        F.round(e0 / nrm, 6).alias("e0_unit"),
    )


@query("dedup_embedding_cosine_vectorized", oracle=_EMB_PAIRS_ORACLE)
def q_dedup_embedding_cosine_vectorized(spark, sf_dir):
    """BLAS fast path for embedding near-dup. Oracle-gated (see
    similarity_topk_vectorized: rounding to 4 places absorbs the
    fold-vs-BLAS ulp); pair-set equality with the fold twin stays
    asserted in tests as defense in depth."""
    e = _t(spark, sf_dir, "embeddings")
    return D.cosine_pairs_vectorized(e, threshold=0.3)


@query(
    "embedding_block_guard",
    oracle=f"""
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS n_pairs,
           count(*) > {D.MAX_COSINE_BLOCK_ROWS} AS oversize,
           round(CAST(count(*) AS DOUBLE) / {D.MAX_COSINE_BLOCK_ROWS}, 6)
               AS cap_utilization
    FROM embeddings GROUP BY label
    """,
)
def q_embedding_block_guard(spark, sf_dir):
    """Monitoring view of the cosine-dedup block bound: per-block row
    count, implied O(b²) pair count, and whether the block exceeds
    MAX_COSINE_BLOCK_ROWS — the skew_report discipline applied to the
    blocking key. cosine_pairs_vectorized enforces the same cap
    in-task (a too-coarse block FAILS with remediation instead of
    absorbing a cluster); this query is how an operator sees the breach
    coming before the run. One hash aggregate, map-side partials."""
    e = _t(spark, sf_dir, "embeddings")
    n = F.count(F.lit(1))
    return e.groupBy("label").agg(
        n.cast("long").alias("n_rows"),
        (n * (n - 1) / 2).cast("long").alias("n_pairs"),
        (n > D.MAX_COSINE_BLOCK_ROWS).alias("oversize"),
        F.round(
            n.cast("double") / D.MAX_COSINE_BLOCK_ROWS, 6
        ).alias("cap_utilization"),
    )


@query(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE shing AS ({_INT_SHINGLES_SQL.format(corpus=_NEAR_CORPUS_SQL)}),
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
        SELECT r.u, b.v FROM reach r JOIN bidir b ON r.v = b.u)
    SELECT u AS node, min(v) AS component FROM reach GROUP BY u
    """,
)
def q_dedup_cluster_components(spark, sf_dir):
    """Dedup cluster resolution: MinHash-LSH verified pairs → connected
    components → canonical cluster id (min member). The oracle computes
    the same components via a recursive transitive closure; the engine
    runs a count-guarded driver union-find over the verified edge list
    (tiny relative to the corpus — one count + one collect) with
    iterative min-label propagation as the over-cap fallback (one
    label-table shuffle per round, 2-3 rounds at near-dup diameters)."""
    return D.connected_components(_verified_near_dup_edges(spark, sf_dir))


def _verified_near_dup_edges(spark, sf_dir):
    """LSH candidates Jaccard-verified at ≥ 0.5 over the near-dup corpus
    (shared by dedup_cluster_components and dedup_survivors)."""
    return verified_edges(_near_corpus(spark, sf_dir))


def verified_edges(corpus):
    """Jaccard-verified (≥ 0.5) MinHash-LSH near-dup edges over any
    (doc_id, text) corpus — also consumed by the curation_pipeline
    composite (queries_curation.py). Verification is the shared fused
    role-explode form (dedup.verify_pairs): one shingle join + one
    pair regroup — one full-shingle-table exchange instead of the
    classic form's two (see the operator docstring)."""
    sh_all = caching.tracked_persist(D.shingled(corpus, "text", "doc_id"))
    pairs = D.candidate_pairs_minhash(sh_all, "doc_id")
    return D.verify_pairs(pairs, sh_all)


@query(
    "dedup_cc_distributed",
    oracle="""
    WITH nodes AS (
        SELECT doc_id * 20 + i AS node
        FROM documents, range(0, 20) t(i))
    SELECT CAST(node AS BIGINT) AS node,
           CAST(node // 4 * 4 AS BIGINT) AS component
    FROM nodes
    """,
)
def q_dedup_cc_distributed(spark, sf_dir):
    """The DISTRIBUTED connected-components path, explicitly: every
    other CC consumer's verified edge list fits MAX_LOCAL_EDGES, so the
    over-cap iterative min-label propagation (dedup.py — per-round
    single label-table shuffle, localCheckpoint leaf plans,
    monotone-convergence action) had parity coverage but no
    correctness/bench row of its own. Here the cap is parameterized to
    0, which is exactly how a 100 TB run whose duplicate graph itself is
    huge would execute.

    Graph: 20 synthetic nodes per document (doc_id*20+i — doc_ids are
    contiguous, so the node space is 0..20N-1), chained in groups of 4
    via (x, x+1) edges where x % 4 != 3. 20N is divisible by 4, so every
    chain is complete: component label = the chain minimum = x//4*4, and
    chain diameter 3 drives the propagation through its real multi-round
    convergence (min label hops one edge per round + one no-change
    round). Nodes/edges are built JVM-side (explode over a sequence
    literal), no driver state."""
    d = _t(spark, sf_dir, "documents")
    nodes = d.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(19))).alias("i")
    ).select((F.col("doc_id") * 20 + F.col("i")).alias("x"))
    edges = nodes.filter(F.col("x") % 4 != 3).select(
        F.col("x").alias("id_a"), (F.col("x") + 1).alias("id_b")
    )
    return D.connected_components(edges, max_local_edges=0).select(
        F.col("node").cast("long").alias("node"),
        F.col("component").cast("long").alias("component"),
    )


@query(
    "dedup_survivors",
    oracle=f"""
    WITH RECURSIVE shing AS ({_INT_SHINGLES_SQL.format(corpus=_NEAR_CORPUS_SQL)}),
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
    dropped AS (
        SELECT u AS doc_id FROM reach GROUP BY u HAVING min(v) <> u)
    SELECT c.doc_id, md5(c.text) AS text_hash
    FROM ({_NEAR_CORPUS_SQL}) c
    WHERE c.doc_id NOT IN (SELECT doc_id FROM dropped)
    """,
)
def q_dedup_survivors(spark, sf_dir):
    """END-TO-END near-dedup composite — the full 100 TB dedup story as
    one query: shingle → MinHash-LSH candidates → Jaccard verify →
    connected components → keep the minimum member of each cluster →
    anti-join the losers out of the corpus.

    Scale shape: every stage is the already-audited operator (band-bucket
    candidate join, blocked verification, guarded-local components with
    the per-round label shuffle as over-cap fallback); the
    final keep/drop decision is one broadcast-sized anti-join (the
    dropped set is small relative to the corpus). This is the query a
    user actually runs nightly; the pieces exist separately for
    inspection and incremental runs."""
    edges = _verified_near_dup_edges(spark, sf_dir)
    comp = D.connected_components(edges)
    dropped = comp.filter(F.col("component") != F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    corpus = _near_corpus(spark, sf_dir)
    return corpus.join(dropped, "doc_id", "left_anti").select(
        "doc_id", TX.content_hash(F.col("text")).alias("text_hash")
    )


@query(
    "streaming_session_window",
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
    SELECT user_id, min(s) AS session_start, count(*) AS n_events
    FROM grp GROUP BY user_id, g
    """,
)
def q_streaming_session_window(spark, sf_dir):
    """Native `session_window` (the built-in complement to the custom
    applyInPandasWithState sessionizer): 30-minute-gap sessions as a
    single hash aggregate with session merging. Boundary semantics
    (verified empirically at sf0.1 where an exactly-30-minute gap
    occurs): an event at EXACTLY start+gap still merges — the session
    break requires a gap STRICTLY greater than the threshold, matching
    the `> INTERVAL 30 MINUTE` oracle and the stateful sessionizer."""
    from movies_etl_spark.sources import readers

    ev = readers.load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("second", F.col("ts")).alias("s")
    )
    agg = ev.groupBy(
        F.session_window(F.col("s"), "30 minutes").alias("w"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return agg.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        "n_events",
    )


@query(
    "streaming_dedup",
    oracle="""
    SELECT DISTINCT md5(text) AS text_hash,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def q_streaming_dedup(spark, sf_dir):
    """Stateful streaming dedup at ingest (dropDuplicates on content
    hash over a file-source stream). Oracle: the duplicated corpus's
    distinct text set IS the base documents' distinct text set (planted
    dups copy existing texts); output columns are text-derived only, so
    the result is survivor-order-independent. See
    streaming/ops.dedup_stream for the state-bounding discussion."""
    from movies_etl_spark.streaming import ops

    return ops.dedup_stream(spark, sf_dir)


@query(
    "streaming_lsh_dedup",
    oracle=f"""
    SELECT doc_id FROM ({_NEAR_CORPUS_SQL}) corpus
    WHERE doc_id NOT IN (SELECT id_b FROM ({_MINHASH_ORACLE}) pairs)
    """,
)
def q_streaming_lsh_dedup(spark, sf_dir):
    """Streaming NEAR-dedup at ingest: MinHash-LSH banding over a
    file-source stream via foreachBatch — each micro-batch bands only its
    own documents, joins against the accumulated band index for
    candidates, Jaccard-verifies against the accumulated shingle store,
    and drops docs with a verified smaller-id partner. Closes the gap
    between streaming_dedup (exact content hash) and the batch
    dedup_minhash_lsh: the ingest-time near-dup gate a production corpus
    pipeline runs. The bounded-input oracle is the batch full recompute:
    survivors = corpus minus every id_b of the verified pair set (ingest
    is ascending-id ordered, so "seen before me" ≡ "smaller id"; the
    rule is also batching-invariant — see streaming/ops.lsh_dedup_stream
    for the per-batch state/idempotency discipline)."""
    from movies_etl_spark.plans.registry import _scratch
    from movies_etl_spark.streaming import ops

    work = _scratch("streaming_lsh_dedup", sf_dir)
    corpus = _near_corpus(spark, sf_dir)
    return ops.lsh_dedup_stream(spark, corpus, work)


@query(
    "streaming_dedup_watermark",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(date_trunc('second', ts) AS TIMESTAMP) AS s
    FROM events
    """,
)
def q_streaming_dedup_watermark(spark, sf_dir):
    """TTL-bounded streaming dedup: dropDuplicatesWithinWatermark keyed
    on event_id (planted at-least-once re-deliveries of every 100th
    event). The state-bounding production variant of streaming_dedup —
    see streaming/ops.dedup_stream_within_watermark for why the horizon
    bounds state at (rate x horizon) instead of stream lifetime. The
    batch oracle is exact on bounded input: everything arrives within
    one horizon, so the output is precisely the distinct base event
    set."""
    from movies_etl_spark.streaming import ops

    return ops.dedup_stream_within_watermark(spark, sf_dir)


@query(
    "streaming_foreach_batch_sink",
    oracle="SELECT event_id, user_id, value FROM events",
)
def q_streaming_foreach_batch_sink(spark, sf_dir):
    """Exactly-once-shaped custom sink: foreachBatch writes each
    micro-batch to a batch-id-addressed parquet subdir (idempotent
    overwrite per batch id — a retried batch lands in the same place,
    which is the user-side half of the exactly-once contract; the
    checkpoint supplies replay). The query round-trips the full event
    stream through the sink and reads the batch directories back:
    content equality with the source table IS the delivery guarantee
    being asserted. See streaming/ops.foreach_batch_to_parquet."""
    from movies_etl_spark.plans.registry import _scratch
    from movies_etl_spark.streaming import ops

    target = _scratch("foreach_batch_sink", sf_dir)
    ops.foreach_batch_to_parquet(spark, sf_dir, target)
    return spark.read.parquet(f"{target}/batch=*").select(
        "event_id", "user_id", "value"
    )


@query(
    "streaming_incremental_rollup",
    oracle="""
    SELECT CAST(date_trunc('hour',
               CAST(date_trunc('second', ts) AS TIMESTAMP)) AS TIMESTAMP)
               AS h,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM events GROUP BY 1
    """,
)
def q_streaming_incremental_rollup(spark, sf_dir):
    """Incremental materialized-view maintenance: foreachBatch merges
    each micro-batch's hourly partials into a batch-id-VERSIONED
    aggregate table (4 source files, maxFilesPerTrigger=1, so the merge
    genuinely runs across multiple batches). The final version must
    equal the batch hourly aggregate — that equality IS the maintenance
    invariant the oracle checks. Versioned writes are the by-hand
    table-format transaction: retried batches are idempotent, readers
    only see complete versions. See
    streaming/ops.incremental_hourly_rollup."""
    from movies_etl_spark.plans.registry import _scratch
    from movies_etl_spark.streaming import ops

    work = _scratch("inc_rollup", sf_dir)
    return ops.incremental_hourly_rollup(spark, sf_dir, work)


@query(
    "streaming_stream_join",
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type,
                      CAST(date_trunc('second', ts) AS TIMESTAMP) AS s
               FROM events)
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           CAST(date_diff('second', c.s, p.s) AS BIGINT) AS lag_sec
    FROM e c JOIN e p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.s >= c.s AND p.s <= c.s + INTERVAL 30 MINUTE
    """,
)
def q_streaming_stream_join(spark, sf_dir):
    """Stream-stream interval join (click→purchase attribution within 30
    minutes, both sides watermarked for bounded join state). The batch
    SQL oracle is exact because inner stream-stream joins emit every
    match regardless of watermark progress — the watermark only bounds
    buffered state."""
    from movies_etl_spark.streaming import ops

    return ops.stream_stream_join(spark, sf_dir)


@query(
    "dedup_survivor_policy",
    oracle=f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    keyed AS (SELECT doc_id,
                     CAST(length(text) AS BIGINT) AS n_chars,
                     md5(array_to_string(
                         string_split(text, ' ')[1:10], ' ')) AS k
              FROM corpus)
    SELECT k,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(first(doc_id ORDER BY n_chars DESC, doc_id ASC)
                AS BIGINT) AS survivor,
           CAST(max(n_chars) AS BIGINT) AS survivor_chars
    FROM keyed GROUP BY k HAVING count(*) >= 2
    """,
)
def q_dedup_survivor_policy(spark, sf_dir):
    """Quality-priority dedup survivor selection: where dedup_exact
    keeps the MIN-id copy, real curation keeps the BEST copy — here
    "longest text wins, ties to the smallest id" over near-duplicate
    clusters keyed by a 10-token prefix fingerprint (the planted
    truncated copies share their source's prefix but are 10 tokens
    shorter, so the policy provably picks the fuller original, which
    min-id would too — but the policy, not the id, is what decides).

    One hash aggregate on the cluster key: the survivor is an argmax
    INSIDE the aggregate — max_by on a STRUCT total-order key
    (n_chars, -doc_id), i.e. lexicographic "longest, then smallest id"
    (bare max_by ties are nondeterministic in both engines; the DuckDB
    side is the equivalent ordered aggregate first(... ORDER BY n_chars
    DESC, doc_id ASC)). A struct comparator, unlike the previous
    n_chars * 10^7 + (10^7 - doc_id) folded BIGINT, cannot overflow or
    silently invert once doc_ids cross the fold constant at larger SFs.
    Never a per-cluster sort or a window over the corpus. Only
    multi-member clusters emit."""
    corpus = _near_corpus(spark, sf_dir)
    keyed = corpus.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.md5(
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 10), " ")
        ).alias("k"),
    )
    key = F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
    return (
        keyed.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max_by("doc_id", key).cast("long").alias("survivor"),
            F.max("n_chars").alias("survivor_chars"),
        )
        .filter(F.col("n_members") >= 2)
    )


# ===========================================================================
# Round-4 additions: ANN nprobe dial, MinHash quality, normalized dedup
# ===========================================================================


@query(
    "similarity_ivf_nprobe",
    oracle=f"""
    WITH cent0 AS (
        SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
        FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
    cent AS (SELECT label, list(m ORDER BY i) AS centroid FROM cent0 GROUP BY label),
    q AS (SELECT vec_id AS query_id, embedding AS qvec
          FROM embeddings WHERE vec_id < 8),
    routed AS (
        SELECT q.query_id, q.qvec, c.label AS probe_label,
               round({_COS_SQL.format(a="q.qvec", b="c.centroid")}, 6) AS csim
        FROM q, cent c),
    best AS (
        SELECT query_id, qvec, probe_label FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY csim DESC, probe_label) AS r
            FROM routed) WHERE r <= 3),
    scored AS (
        SELECT b.query_id, b.probe_label, e.vec_id AS neighbor_id,
               round({_COS_SQL.format(a="b.qvec", b="e.embedding")}, 6) AS sim
        FROM embeddings e JOIN best b ON e.label = b.probe_label
        WHERE e.vec_id <> b.query_id)
    SELECT query_id, probe_label, neighbor_id, sim, rank FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored)
    WHERE rank <= 5
    """,
)
def q_similarity_ivf_nprobe(spark, sf_dir):
    """IVF ANN with nprobe=3 — the recall/scan dial on the IVF side,
    paired with similarity_ann_multiprobe on the LSH side: each query
    exact-searches its 3 nearest cells (3/10 of the corpus) instead of
    1, lifting recall@5 from ~0.1 to ~0.4 on the isotropic test
    embeddings (tests/test_ann_recall.py pins the floor). Plan shape is
    identical to nprobe=1: centroids broadcast, probed cells read via
    partition pruning at scale, candidates never shuffle the corpus."""
    e = _t(spark, sf_dir, "embeddings")
    return SIM.topk_ivf(e, e.filter(F.col("vec_id") < 8), k=5, nprobe=3)


_MINHASH_EST_SQL = " + ".join(
    f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(D.N_MINHASH)
)


@query(
    "minhash_jaccard_estimate",
    oracle=f"""
    WITH shing AS ({_INT_SHINGLES_SQL.format(corpus=_NEAR_CORPUS_SQL)}),
    sig0 AS (SELECT doc_id, shingles, {_SIG_COLS_SQL} FROM shing),
    sig AS (SELECT *, {_BAND_COLS_SQL} FROM sig0),
    cand AS ({_CAND_UNION_SQL})
    SELECT c.id_a, c.id_b,
           round(({_MINHASH_EST_SQL}) / {D.N_MINHASH}.0, 4) AS est_jac,
           round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / CAST(len(list_distinct(a.shingles || b.shingles)) AS DOUBLE),
                 4) AS exact_jac,
           round(abs(({_MINHASH_EST_SQL}) / {D.N_MINHASH}.0
                 - CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                   / CAST(len(list_distinct(a.shingles || b.shingles)) AS DOUBLE)),
                 4) AS abs_err
    FROM cand c
    JOIN sig a ON a.doc_id = c.id_a
    JOIN sig b ON b.doc_id = c.id_b
    WHERE len(a.shingles) > 0 AND len(b.shingles) > 0
    """,
)
def q_minhash_jaccard_estimate(spark, sf_dir):
    """MinHash estimator quality: for every LSH candidate pair, the
    8-permutation MinHash Jaccard ESTIMATE (fraction of agreeing
    signature slots) next to the exact shingle Jaccard and their
    absolute error — the sketch-accuracy audit that says whether 8
    permutations are enough before trusting banding at corpus scale
    (the MinHash analogue of the ANN recall@k numbers; E[est] = true J,
    σ = sqrt(J(1-J)/8) ≈ 0.18 at J=0.5, so single-pair estimates are
    coarse and THRESHOLD decisions must verify exactly, as
    dedup_minhash_lsh does).

    Costs nothing new at scale: signatures and shingles are already
    computed for banding; the estimate is 8 integer equality checks per
    candidate pair riding the existing verify join. The 8 array_min
    folds run ONCE per doc at persist time (the signature columns ride
    the tracked persist), and banding plus both join sides read them."""
    corpus = _near_corpus(spark, sf_dir)
    m_cols = [f"m{i}" for i in range(D.N_MINHASH)]
    sh_all = caching.tracked_persist(
        D.shingled(corpus, "text", "doc_id").select(
            "doc_id",
            "shingles",
            *[F.expr(s).alias(c) for s, c in zip(D._minhash_sig_sql(), m_cols)],
        )
    )
    pairs = D.candidate_pairs_minhash(sh_all, "doc_id", sig_cols=m_cols)
    sh = sh_all.filter(F.size("shingles") > 0)
    a = sh.select(
        F.col("doc_id").alias("id_a"),
        F.col("shingles").alias("sh_a"),
        *[F.col(c).alias(f"ma{i}") for i, c in enumerate(m_cols)],
    )
    b = sh.select(
        F.col("doc_id").alias("id_b"),
        F.col("shingles").alias("sh_b"),
        *[F.col(c).alias(f"mb{i}") for i, c in enumerate(m_cols)],
    )
    agree = sum(
        F.when(F.col(f"ma{i}") == F.col(f"mb{i}"), 1).otherwise(0)
        for i in range(D.N_MINHASH)
    )
    est = agree / float(D.N_MINHASH)
    exact = D.jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(est, 4).alias("est_jac"),
            F.round(exact, 4).alias("exact_jac"),
            F.round(F.abs(est - exact), 4).alias("abs_err"),
        )
    )


#: corpus with planted FORMATTING variants: doc_id % 40 == 0 re-appears
#: uppercased with doctored punctuation/whitespace — byte-level exact
#: dedup misses them; normalization-then-hash catches them.
_NORM_CORPUS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 2000000, upper(text) || '  !!'
    FROM documents WHERE doc_id % 40 = 0
"""

_NORM_KEY_SQL = (
    "md5(trim(regexp_replace(regexp_replace(lower(text), "
    "'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))"
)


@query(
    "dedup_exact_normalized",
    oracle=f"""
    WITH corpus AS ({_NORM_CORPUS_SQL}),
    keyed AS (SELECT doc_id, {_NORM_KEY_SQL} AS k FROM corpus)
    SELECT k, CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(doc_id) AS BIGINT) AS keep_id
    FROM keyed GROUP BY k HAVING count(*) >= 2
    """,
)
def q_dedup_exact_normalized(spark, sf_dir):
    """Normalized exact dedup — the cheap first stage every corpus
    pipeline runs BEFORE near-dedup: lowercase, strip punctuation,
    collapse whitespace, then hash-group. Catches the mass of trivial
    re-crawls (case/punctuation/whitespace variants) for one map + one
    hash shuffle, leaving only genuinely-reworded copies to the ~10×
    costlier MinHash pass. Planted uppercase+punctuation variants here
    are invisible to byte-exact dedup (doc_fingerprint) by construction.
    Keep-policy: min id (dedup_survivor_policy shows the quality-priority
    alternative)."""
    corpus = _t(spark, sf_dir, "documents").select("doc_id", "text")
    variants = corpus.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit("  !!")).alias("text"),
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    keyed = corpus.unionByName(variants).select(
        "doc_id", F.md5(norm).alias("k")
    )
    return (
        keyed.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("doc_id").cast("long").alias("keep_id"),
        )
        .filter(F.col("n_copies") >= 2)
    )


@query(
    "streaming_hopping_window",
    oracle="""
    WITH e AS (SELECT CAST(epoch_us(CAST(date_trunc('second', ts) AS TIMESTAMP))
                      // 1000000 AS BIGINT) AS sec,
                      event_type,
                      CAST(floor(value * 100) AS BIGINT) AS cents
               FROM events),
    hop AS (SELECT (sec // 1800 - o) * 1800 AS ws, event_type, cents
            FROM e, UNNEST([0, 1]) t(o))
    SELECT ws, event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM hop GROUP BY ws, event_type
    """,
)
def q_streaming_hopping_window(spark, sf_dir):
    """Streaming sliding-window aggregate (1 h window / 30 min hop ×
    event_type) — the hopping_window_agg batch query re-expressed over
    readStream with the identical F.window(slide) generator, completing
    the tumbling/session/sliding window triple in the streaming suite.
    The batch oracle is exact on bounded input (availableNow drains
    everything; complete mode emits final counts). Window membership is
    second-truncation-invariant because all window boundaries are whole
    multiples of 1800 s."""
    from movies_etl_spark.streaming import ops

    return ops.hopping_counts(spark, sf_dir)


_LANG_CONFUSION_ORACLE = (
    "WITH pred AS ("
    + _LANG_ID_ORACLE
    + ") SELECT lang AS lang_true, lang_pred, "
    "CAST(count(*) AS BIGINT) AS n_docs, "
    "round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY lang), 4) "
    "AS row_share FROM pred GROUP BY lang, lang_pred"
)


@query("lang_id_confusion", oracle=_LANG_CONFUSION_ORACLE)
def q_lang_id_confusion(spark, sf_dir):
    """Language-ID confusion matrix: predicted vs stored language with
    per-true-language shares — the classifier-quality audit completing
    the engine's eval trio (ANN recall@k, MinHash estimator error, and
    now heuristic-classifier accuracy): a curation pipeline that routes
    by lang_id needs THIS table before trusting the routing.

    One scan + one aggregate collapsing to ≤|langs|² rows; the share
    window runs on that tiny frame. The stopword-argmax predictor is
    the deterministic CASE chain text_lang_id pins against the same
    oracle."""
    d = _t(spark, sf_dir, "documents")
    c = d.select(
        F.col("lang").alias("lang_true"),
        TX.lang_id(F.col("text")).alias("lang_pred"),
    )
    counts = c.groupBy("lang_true", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("lang_true")
    return counts.select(
        "lang_true",
        "lang_pred",
        "n_docs",
        F.round(F.col("n_docs") * 1.0 / F.sum("n_docs").over(w), 4).alias(
            "row_share"
        ),
    )


@query(
    "ann_recall_eval",
    oracle=f"""
    WITH exact AS ({_TOPK_ORACLE}),
    ann AS ({_MULTIPROBE_ORACLE})
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           round(count(a.neighbor_id) * 1.0 / count(*), 4) AS recall
    FROM exact e
    LEFT JOIN ann a ON a.query_id = e.query_id
                   AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """,
)
def q_ann_recall_eval(spark, sf_dir):
    """Per-query recall@5 of multi-probe LSH against the exact
    brute-force top-k, AS A QUERY — the index-quality audit runs under
    the same oracle gate as the index itself, so a probe-table change
    that silently craters recall fails CORRECTNESS, not just a pytest
    floor (tests/test_ann_recall.py keeps the aggregate floors; bench
    reports the fleet-level numbers).

    Plan: both sides reuse their own scale shapes (broadcast queries ×
    one corpus scan; bucketed probe equi-join), and the recall join runs
    on two k·|queries|-row frames — negligible next to either input.
    The corpus rides ONE lazy checkpoint (the frontier's shared-scan
    pattern), so the exact arm, the LSH arm, and both query-set
    derivations read a LogicalRDD leaf instead of four parquet scans —
    at 100 TB the eval's arms share one pass over the stored corpus."""
    from movies_etl_spark.operators import caching

    e = _t(spark, sf_dir, "embeddings")
    # shared (memoized) per session+sf: a multi-rep bench session reuses
    # one resident corpus copy instead of pinning one per rep; the
    # projection is immutable parquet, so reuse is sound.
    base = caching.shared_local_checkpoint(
        e.select("vec_id", "embedding"), key=("recall_corpus", sf_dir)
    )
    qset = base.filter(F.col("vec_id") < 8)
    exact = SIM.topk_bruteforce(base, qset, k=5).select(
        "query_id", "neighbor_id"
    )
    ann = SIM.topk_multiprobe_lsh(base, qset, k=5).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    j = exact.join(
        ann,
        (F.col("query_id") == F.col("aq"))
        & (F.col("neighbor_id") == F.col("an")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.count("an").cast("long").alias("n_hit"),
        F.round(F.count("an") * 1.0 / F.count(F.lit(1)), 4).alias("recall"),
    )


#: clustered fixture as SQL — the same float→double casts, one multiply,
#: one add as similarity.clustered_fixture, so both engines build the
#: identical doubles (noise literal CAST to DOUBLE: DuckDB parses bare
#: decimals as DECIMAL).
_CLUSTERED_FIXTURE_SQL = f"""
    SELECT e.vec_id,
           list_transform(list_zip(c.embedding, e.embedding),
             x -> CAST(x[1] AS DOUBLE)
                  + CAST({SIM.CLUSTER_FIXTURE_NOISE!r} AS DOUBLE)
                    * CAST(x[2] AS DOUBLE)) AS embedding
    FROM embeddings e
    JOIN embeddings c ON c.vec_id = e.vec_id % {SIM.CLUSTER_FIXTURE_K}
"""

_ANN_RECALL_CLUSTERED_ORACLE = f"""
    WITH cf AS ({_CLUSTERED_FIXTURE_SQL}),
    b AS (SELECT vec_id, embedding,
                 {_rp_bucket_sql("embedding")} AS bucket
          FROM cf),
    q AS (SELECT vec_id AS query_id, embedding AS qvec, bucket AS qbucket
          FROM b WHERE vec_id >= 8 AND vec_id < 16),
    probes AS (
        SELECT query_id, qvec, xor(qbucket, off) AS probe_bucket
        FROM q, UNNEST({SIM.MULTIPROBE_OFFSETS_H1}) t(off)),
    ann_scored AS (
        SELECT p.query_id, e.vec_id AS neighbor_id,
               round({_COS_SQL.format(a="p.qvec", b="e.embedding")}, 6) AS sim
        FROM b e JOIN probes p
          ON e.bucket = p.probe_bucket AND e.vec_id <> p.query_id),
    ann AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id) AS rank
            FROM ann_scored)
        WHERE rank <= 5),
    ex_scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               round({_COS_SQL.format(a="q.qvec", b="e.embedding")}, 6) AS sim
        FROM cf e, q WHERE e.vec_id <> q.query_id),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id) AS rank
            FROM ex_scored)
        WHERE rank <= 5)
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           round(count(a.neighbor_id) * 1.0 / count(*), 4) AS recall
    FROM exact e
    LEFT JOIN ann a ON a.query_id = e.query_id
                   AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """


@query("ann_recall_clustered", oracle=_ANN_RECALL_CLUSTERED_ORACLE)
def q_ann_recall_clustered(spark, sf_dir):
    """Multi-probe LSH recall on a CLUSTERED corpus — the demonstration
    that the honest isotropic floors (multiprobe 0.35 at ~15% scan) are
    a property of structureless data, not of the index: on the planted
    deterministic cluster fixture (similarity.clustered_fixture — every
    vector pulled to one of 8 centers with 0.12 noise, within-cluster
    cosine ≈ 0.97, the shape real sentence embeddings have), the SAME
    machinery at the CHEAPER Hamming-1 probe set (9 of 256 buckets)
    reaches recall@5 ≈ 0.97 while scanning ~14% of the corpus — equal
    scan fraction to the isotropic radius-2 audit, ~3× the recall
    (floors pinned in tests/test_ann_recall.py; fleet numbers in
    bench.py's ann_recall_at_5).

    The fixture is pure IEEE add/multiply on existing vectors — no RNG
    — so exact top-k, probe tables, and the recall arithmetic all
    replay bit-identically in the DuckDB oracle: the recall CLAIM
    itself sits under the driver's value gate, like ann_recall_eval.
    The fixture rides ONE lazy checkpoint, so neither arm re-runs the
    fixture's broadcast join or re-scans parquet — five resident scans
    become one materialization."""
    from movies_etl_spark.operators import caching

    e = _t(spark, sf_dir, "embeddings")
    # memoized per session+sf: the fixture is pure deterministic
    # arithmetic on immutable parquet, so bench reps reuse one resident
    # copy instead of pinning one per rep.
    cl = caching.shared_local_checkpoint(
        SIM.clustered_fixture(e), key=("recall_clustered_fixture", sf_dir)
    )
    qset = cl.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16))
    exact = SIM.topk_bruteforce(cl, qset, k=5).select("query_id", "neighbor_id")
    ann = SIM.topk_multiprobe_lsh(
        cl, qset, k=5, offsets=SIM.MULTIPROBE_OFFSETS_H1
    ).select(F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an"))
    j = exact.join(
        ann,
        (F.col("query_id") == F.col("aq"))
        & (F.col("neighbor_id") == F.col("an")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.count("an").cast("long").alias("n_hit"),
        F.round(F.count("an") * 1.0 / F.count(F.lit(1)), 4).alias("recall"),
    )


#: The (planes × Hamming radius) grid of the ISOTROPIC LSH arm of the
#: frontier sweep — spans the high-recall end (8/4), the selected
#: isotropic operating point (8/3: recall@5 0.625 at a 37% scan budget
#: at sf0.1), and the high-efficiency end (16/3: best recall-per-scan
#: ≈ 4.9×, low absolute recall) so the published table shows the WHOLE
#: trade, not one point.
ANN_FRONTIER_CONFIGS: list[tuple[int, int]] = [
    (8, 1), (8, 2), (8, 3), (8, 4), (10, 2), (10, 4), (12, 3), (16, 3),
]

#: Clustered-corpus LSH arm: (8,1) is the published clustered operating
#: point (the `lsh_h1_clustered` bench probe) and (8,2) the next radius
#: out — enough to anchor the family comparison against IVF where the
#: structure lives.
ANN_FRONTIER_LSH_CLUSTERED: list[tuple[int, int]] = [(8, 1), (8, 2)]

#: IVF-nprobe arm per corpus: on the isotropic corpus
#: the cells are the 10 given labels; on the clustered fixture the
#: coarse quantizer is TRAINED (Lloyd's k=8, 2 iterations, seeds =
#: first 8 ids — similarity.kmeans_assign), which is where IVF earns
#: its keep.
ANN_FRONTIER_IVF_NPROBES: dict[str, list[int]] = {
    "iso": [1, 2, 3],
    "clus": [1, 2],
}


def _frontier_row_sql(
    corpus: str,
    family: str,
    cfg: str,
    n_probes: int,
    cand: str,
    ann: str,
    exact: str,
    nq: str,
    ncorp: str,
) -> str:
    """One frontier row as a SELECT over the named CTEs."""
    return f"""SELECT '{corpus}' AS corpus, '{family}' AS family,
               '{cfg}' AS cfg, {n_probes} AS n_probes,
               (SELECT CAST(count(*) AS BIGINT) FROM {cand})
                   AS n_candidates,
               round(CAST((SELECT count(*) FROM {cand}) AS DOUBLE)
                     / ((SELECT v FROM {nq})
                        * ((SELECT v FROM {ncorp}) - 1)), 6)
                   AS scan_fraction,
               (SELECT CAST(count(*) AS BIGINT) FROM {exact}) AS n_exact,
               (SELECT CAST(count(*) AS BIGINT) FROM {exact} e
                 JOIN {ann} a ON a.query_id = e.query_id
                              AND a.neighbor_id = e.neighbor_id) AS n_hit,
               round(CAST((SELECT count(*) FROM {exact} e
                       JOIN {ann} a ON a.query_id = e.query_id
                                    AND a.neighbor_id = e.neighbor_id)
                     AS DOUBLE)
                     / (SELECT count(*) FROM {exact}), 4) AS recall"""


def _topk_cte(src: str, k: int = 5) -> str:
    return f"""
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id) AS rank
            FROM {src})
        WHERE rank <= {k}"""


def _ann_frontier_oracle() -> str:
    """Generated DuckDB replay of the FAMILY-COMPLETE frontier sweep:
    LSH and IVF arms on BOTH the isotropic corpus and the planted
    clustered fixture. The md5 plane family makes every LSH
    config's signature a PREFIX of the widest one, so each corpus is
    bucketed ONCE at its arm's max width and each config's bucket is a
    modulus; the exact top-5 CTE is shared per corpus across every arm,
    exactly as the Spark side shares the checkpointed exact frame. The
    clustered IVF quantizer replays the same deterministic two-iteration
    Lloyd's as the kmeans_assign oracle (k=8, seeds = first 8 ids,
    distances and recomputed means rounded to 6) over the fixture."""
    max_p = max(p for p, _ in ANN_FRONTIER_CONFIGS)
    bucket = _rp_bucket_sql("embedding", SIM.rp_planes_n(max_p))
    cbucket = _rp_bucket_sql("embedding")  # clustered arm: 8 planes
    cos = _COS_SQL
    ctes = [
        # ---- isotropic corpus ----
        f"bmax AS (SELECT vec_id, embedding, {bucket} AS bucket "
        "FROM embeddings)",
        "qmax AS (SELECT vec_id AS query_id, embedding AS qvec, "
        "bucket AS qbucket FROM bmax WHERE vec_id < 8)",
        "nq AS (SELECT CAST(count(*) AS BIGINT) AS v FROM qmax)",
        "ncorp AS (SELECT CAST(count(*) AS BIGINT) AS v FROM embeddings)",
        f"""ex_scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               round({cos.format(a="q.qvec", b="e.embedding")}, 6) AS sim
        FROM embeddings e, qmax q WHERE e.vec_id <> q.query_id)""",
        f"exact AS ({_topk_cte('ex_scored')})",
        # ---- clustered fixture ----
        f"cf AS ({_CLUSTERED_FIXTURE_SQL})",
        f"cb AS (SELECT vec_id, embedding, {cbucket} AS bucket FROM cf)",
        "cq AS (SELECT vec_id AS query_id, embedding AS qvec, "
        "bucket AS qbucket FROM cb WHERE vec_id >= 8 AND vec_id < 16)",
        "cnq AS (SELECT CAST(count(*) AS BIGINT) AS v FROM cq)",
        "cncorp AS (SELECT CAST(count(*) AS BIGINT) AS v FROM cf)",
        f"""cex_scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               round({cos.format(a="q.qvec", b="e.embedding")}, 6) AS sim
        FROM cf e, cq q WHERE e.vec_id <> q.query_id)""",
        f"cexact AS ({_topk_cte('cex_scored')})",
    ]
    rows = []
    # ---- LSH arms ----
    for corpus, src, qsrc, exact_c, nq_c, nc_c, configs in (
        ("iso", "bmax", "qmax", "exact", "nq", "ncorp",
         ANN_FRONTIER_CONFIGS),
        ("clus", "cb", "cq", "cexact", "cnq", "cncorp",
         ANN_FRONTIER_LSH_CLUSTERED),
    ):
        for p, r in configs:
            offs = SIM.multiprobe_offsets(p, r)
            tag = f"{corpus}_{p}_{r}"
            # always emit the modulus (a provable no-op at full arm
            # width, where bucket < 2^p already):
            # the Spark side applies `% (1 << p)` unconditionally, and
            # keeping the two engines textually parallel is worth more
            # than skipping a no-op
            mod = f" % {1 << p}"
            ctes.append(
                f"""cand_{tag} AS (
        SELECT pr.query_id, e.vec_id AS neighbor_id,
               round({cos.format(a="pr.qvec", b="e.embedding")}, 6) AS sim
        FROM {src} e JOIN (
            SELECT query_id, qvec,
                   xor(qbucket{mod}, off) AS probe_bucket
            FROM {qsrc}, UNNEST({offs}) t(off)) pr
          ON e.bucket{mod} = pr.probe_bucket
         AND e.vec_id <> pr.query_id)"""
            )
            ctes.append(f"ann_{tag} AS ({_topk_cte(f'cand_{tag}')})")
            rows.append(
                _frontier_row_sql(
                    corpus, "lsh", f"p{p}_r{r}", len(offs),
                    f"cand_{tag}", f"ann_{tag}", exact_c, nq_c, nc_c,
                )
            )
    # ---- IVF arm, isotropic: cells = the 10 given labels ----
    ctes += [
        """icent0 AS (
        SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
        FROM embeddings, range(1, 65) t(i) GROUP BY label, i)""",
        "icent AS (SELECT label AS cell, list(m ORDER BY i) AS centroid "
        "FROM icent0 GROUP BY label)",
        f"""iroute AS (
        SELECT q.query_id, q.qvec, c.cell,
               round({cos.format(a="q.qvec", b="c.centroid")}, 6) AS csim
        FROM qmax q, icent c)""",
        """ibest AS (
        SELECT query_id, qvec, cell,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY csim DESC, cell) AS r
        FROM iroute)""",
    ]
    for n in ANN_FRONTIER_IVF_NPROBES["iso"]:
        ctes.append(
            f"""icand_np{n} AS (
        SELECT b.query_id, e.vec_id AS neighbor_id,
               round({cos.format(a="b.qvec", b="e.embedding")}, 6) AS sim
        FROM embeddings e JOIN ibest b ON e.label = b.cell AND b.r <= {n}
        WHERE e.vec_id <> b.query_id)"""
        )
        ctes.append(f"iann_np{n} AS ({_topk_cte(f'icand_np{n}')})")
        rows.append(
            _frontier_row_sql(
                "iso", "ivf", f"np{n}", n,
                f"icand_np{n}", f"iann_np{n}", "exact", "nq", "ncorp",
            )
        )
    # ---- IVF arm, clustered: TRAINED quantizer (Lloyd's k=8, 2 iters,
    # seeds = first 8 ids; replays similarity.kmeans_assign verbatim) ----
    d2 = _D2_SQL
    ctes += [
        "ckseeds AS (SELECT vec_id AS cell, embedding AS centroid "
        "FROM cf WHERE vec_id < 8)",
        f"""cka1 AS (
        SELECT vec_id, cell FROM (
            SELECT v.vec_id, s.cell,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY round({d2.format(a="v.embedding",
                                                 b="s.centroid")}, 6),
                                s.cell) AS r
            FROM cf v, ckseeds s) WHERE r = 1)""",
        """ckc10 AS (
        SELECT a.cell, i, round(avg(v.embedding[i]), 6) AS m
        FROM cf v JOIN cka1 a USING (vec_id), range(1, 65) t(i)
        GROUP BY a.cell, i)""",
        "ckc1 AS (SELECT cell, list(m ORDER BY i) AS centroid "
        "FROM ckc10 GROUP BY cell)",
        f"""cka2 AS (
        SELECT vec_id, cell FROM (
            SELECT v.vec_id, c.cell,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY round({d2.format(a="v.embedding",
                                                 b="c.centroid")}, 6),
                                c.cell) AS r
            FROM cf v, ckc1 c) WHERE r = 1)""",
        """ccent0 AS (
        SELECT a.cell, i, round(avg(v.embedding[i]), 6) AS m
        FROM cf v JOIN cka2 a USING (vec_id), range(1, 65) t(i)
        GROUP BY a.cell, i)""",
        "ccent AS (SELECT cell, list(m ORDER BY i) AS centroid "
        "FROM ccent0 GROUP BY cell)",
        f"""croute AS (
        SELECT q.query_id, q.qvec, c.cell,
               round({cos.format(a="q.qvec", b="c.centroid")}, 6) AS csim
        FROM cq q, ccent c)""",
        """cbest AS (
        SELECT query_id, qvec, cell,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY csim DESC, cell) AS r
        FROM croute)""",
    ]
    for n in ANN_FRONTIER_IVF_NPROBES["clus"]:
        ctes.append(
            f"""ccand_np{n} AS (
        SELECT b.query_id, e.vec_id AS neighbor_id,
               round({cos.format(a="b.qvec", b="e.embedding")}, 6) AS sim
        FROM cf e JOIN cka2 m ON e.vec_id = m.vec_id
        JOIN cbest b ON m.cell = b.cell AND b.r <= {n}
        WHERE e.vec_id <> b.query_id)"""
        )
        ctes.append(f"cann_np{n} AS ({_topk_cte(f'ccand_np{n}')})")
        rows.append(
            _frontier_row_sql(
                "clus", "ivf", f"np{n}", n,
                f"ccand_np{n}", f"cann_np{n}", "cexact", "cnq", "cncorp",
            )
        )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    "
        + "\n    UNION ALL ".join(rows)
    )


@query("ann_frontier_sweep", oracle=_ann_frontier_oracle())
def q_ann_frontier_sweep(spark, sf_dir):
    """The FAMILY-COMPLETE ANN recall-vs-scan frontier, as one
    oracle-gated query: every (family, corpus, config) point — multi-probe
    sign-LSH over ANN_FRONTIER_CONFIGS on the isotropic embeddings and
    ANN_FRONTIER_LSH_CLUSTERED on the planted clustered fixture, plus
    IVF-nprobe on both corpora (given-label cells on isotropic; a
    TRAINED Lloyd's k=8 coarse quantizer on clustered, where a real
    deployment trains it) — emitting (n_probes, n_candidates,
    scan_fraction, recall@5) under the driver's exact-value gate, so a
    plane-family, probe, or quantizer regression fails CORRECTNESS.

    What the table shows (sf0.1 numbers in SCALE.md): on structureless
    isotropic vectors recall-per-scan is information-theoretically
    capped for BOTH families (LSH 8/3 = 0.625@5 at 37% scan; IVF
    nprobe/10 of the corpus buys ≈ proportional recall) — the honest
    floor. On clustered data both families get cheap: LSH h1 (9 probes)
    reaches high recall at ~14% scan, and the TRAINED-quantizer IVF at
    nprobe=1 scans ~1/8 of the corpus with recall at or above the LSH
    clustered point (floors pinned in tests/test_ann_recall.py) — the
    family-complete operating-point table an index user actually picks
    from.

    Plan shape: per corpus, the signature is computed ONCE at the arm's
    max width (prefix-nested plane family → narrower configs are
    moduli) and the exact top-5 frame ONCE — both as LAZY checkpoints
    (LogicalRDD leaves kill per-branch Catalyst re-analysis of the
    wide shared subtrees; data computes once on the query's first
    action). The clustered-IVF cell table and centroids are likewise
    checkpointed at the trained-artifact boundary, exactly where a
    production run would write the quantizer to storage. Each arm
    (family × corpus) is ONE broadcast probe equi-join producing a
    cfg-TAGGED candidate frame over all its configs; the four frames
    union once and share ONE metric tail (one top-5 window
    partitioned by (config, query), one hit join against the tagged
    exact union, tiny grouped aggregates joined back onto a 15-row
    literal meta frame — which also guarantees a zero-candidate config
    still emits its row). The fused tail replaced 15 copies of
    (agg + window + join + 2 crossJoins): ~90 fewer eager Catalyst
    analyses at build, one stage wave instead of 15 at exec. No
    collects, no corpus shuffles."""
    from movies_etl_spark.operators import caching
    from movies_etl_spark.operators.dedup import cosine_expr, dot_expr, l2norm_expr

    e = _t(spark, sf_dir, "embeddings")

    def corpus_frames(corp, lo, hi, width, cell_col=None):
        """(signed corpus, query set, exact top-5, 1-row denominator) —
        ALL four checkpointed lazily, so every consumer branch analyzes
        against LogicalRDD leaves, never the parquet subtrees. An
        experiment that dropped the exact/denom checkpoints after the
        fused tail left them single-consumer: build fell only 0.7 s but
        exec ROSE 2.4 s (their subtrees re-entered the monolithic final
        job instead of materializing as compact side jobs), so the
        leaves stay. ``cell_col`` folds a given IVF cell key into the
        same signed frame (one scan serves both families)."""
        qset = corp.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        exact = caching.tracked_local_checkpoint(
            SIM.topk_bruteforce(corp, qset, k=5).select(
                "query_id", "neighbor_id"
            ),
            eager=False,
        )
        sel = [
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cvec"),
            SIM.rp_bucket("embedding", width).cast("int").alias("bucket"),
            l2norm_expr("embedding").alias("cnrm"),
        ]
        if cell_col is not None:
            sel.append(F.col(cell_col).alias("cell"))
        c_all = caching.tracked_local_checkpoint(
            corp.select(*sel), eager=False
        )
        q_all = c_all.filter(
            (F.col("neighbor_id") >= lo) & (F.col("neighbor_id") < hi)
        ).select(
            F.col("neighbor_id").alias("query_id"),
            F.col("cvec").alias("qvec"),
            F.col("bucket").alias("qbucket"),
            F.col("cnrm").alias("qnrm"),
        )
        denom = caching.tracked_local_checkpoint(
            qset.agg(F.count(F.lit(1)).alias("__nq")).crossJoin(
                corp.agg(F.count(F.lit(1)).alias("__nc"))
            ),
            eager=False,
        )
        return c_all, q_all, exact, denom

    sim = F.round(
        dot_expr("qvec", "cvec") / (F.col("qnrm") * F.col("cnrm")),
        6,
    )

    # ---- fused metric tail: every arm contributes one cfg-TAGGED
    # candidate frame; one union, ONE top-5 window, ONE hit join, and
    # tiny grouped aggregates replace 15 copies of
    # (agg + window + join + 2 crossJoins) — same semantics and values,
    # ~90 fewer eager Catalyst analyses of medium-size trees at build
    # time, and the single window computes all configs in one stage
    # wave at exec. A config with ZERO candidates still emits its row:
    # the 15-row meta frame is the preserved side of the final joins.
    meta_rows = []

    def lsh_cands(corpus_tag, c_all, q_all, configs):
        """ONE corpus scan for the whole LSH arm: the corpus explodes
        over the arm's DISTINCT plane widths (4 rows/vector iso, 1
        clustered) and joins once against every config's cfg-tagged
        probe rows on the (width, probe_bucket) equi key. A vector has
        exactly one bucket at each width and a config's probe buckets
        are distinct, so each (cfg, query, neighbor) matches at most
        once. At 100 TB this is one pass over the corpus-scale
        signature table with a small constant row expansion, not one
        pass per config."""
        widths = sorted({p for p, _ in configs})
        # ONE probe frame for the whole arm: a single explode over one
        # parsed (cfg, qp, off) struct-array literal (qbucket mod 2^p
        # written per-row), in one analyzed select — a per-config
        # subtree plus a unionByName chain would re-analyze the growing
        # tree at every union and under the whole fused tail.
        items = []
        for p, r in configs:
            offs = SIM.multiprobe_offsets(p, r)
            meta_rows.append((corpus_tag, "lsh", f"p{p}_r{r}", len(offs)))
            items += [
                f"named_struct('cfg','p{p}_r{r}','qp',{p},'off',{o})"
                for o in offs
            ]
        probes = q_all.select(
            "query_id",
            "qvec",
            "qnrm",
            "qbucket",
            F.explode(F.expr("array(" + ",".join(items) + ")")).alias("pc"),
        ).select(
            F.col("pc.cfg").alias("cfg"),
            F.col("pc.qp").alias("qp"),
            "query_id",
            "qvec",
            "qnrm",
            (F.expr("cast(qbucket % shiftleft(1, pc.qp) as int)"))
            .bitwiseXOR(F.col("pc.off"))
            .cast("int")
            .alias("probe_bucket"),
        )
        c_exp = c_all.withColumn(
            "pp",
            F.explode(F.expr("array(" + ",".join(map(str, widths)) + ")")),
        ).withColumn(
            # per-row modulus: python-side F.shiftleft wants a literal
            # numBits, so the width-dependent 1<<pp goes through expr
            "kbucket",
            F.expr("cast(bucket % shiftleft(1, pp) as int)"),
        )
        return c_exp.join(
            F.broadcast(probes),
            (F.col("pp") == F.col("qp"))
            & (F.col("kbucket") == F.col("probe_bucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        ).select(
            F.lit(corpus_tag).alias("corpus"),
            F.lit("lsh").alias("family"),
            "cfg",
            "query_id",
            "neighbor_id",
            sim.alias("sim"),
        )

    def ivf_cands(corpus_tag, cells, cent, q_all, nprobes):
        """cells: (neighbor_id, cvec, cnrm, cell); cent: (cell,
        centroid), broadcast. ONE cells scan for the whole IVF arm:
        every nprobe's cfg-tagged routed probe rows (sum of nprobes rows
        per query) join once on the cell equi key."""
        routed = q_all.crossJoin(F.broadcast(cent)).select(
            "query_id",
            "qvec",
            "qnrm",
            "cell",
            F.round(cosine_expr("qvec", "centroid"), 6).alias(
                "csim"
            ),
        )
        wq = Window.partitionBy("query_id").orderBy(
            F.desc("csim"), F.asc("cell")
        )
        best = routed.withColumn("r", F.row_number().over(wq))
        # ONE probe frame for the whole arm, as in the LSH arm: explode
        # a (cfg, np) struct-array literal and filter r <= np.
        items = []
        for n in nprobes:
            meta_rows.append((corpus_tag, "ivf", f"np{n}", n))
            items.append(f"named_struct('cfg','np{n}','np',{n})")
        bnp = (
            best.select(
                "query_id",
                "qvec",
                "qnrm",
                "cell",
                "r",
                F.explode(
                    F.expr("array(" + ",".join(items) + ")")
                ).alias("pc"),
            )
            .filter(F.col("r") <= F.col("pc.np"))
            .select(
                F.col("pc.cfg").alias("cfg"),
                "query_id",
                "qvec",
                "qnrm",
                "cell",
            )
        )
        return (
            cells.join(F.broadcast(bnp), "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select(
                F.lit(corpus_tag).alias("corpus"),
                F.lit("ivf").alias("family"),
                "cfg",
                "query_id",
                "neighbor_id",
                sim.alias("sim"),
            )
        )

    max_p = max(p for p, _ in ANN_FRONTIER_CONFIGS)
    cands = []

    # ---- isotropic corpus ----
    ci, qi, exact_i, denom_i = corpus_frames(e, 0, 8, max_p, cell_col="label")
    cands.append(lsh_cands("iso", ci, qi, ANN_FRONTIER_CONFIGS))
    cent_i = SIM.label_centroids(ci, "cvec", "cell")
    cands.append(ivf_cands("iso", ci, cent_i, qi, ANN_FRONTIER_IVF_NPROBES["iso"]))

    # ---- clustered fixture ----
    cf = caching.tracked_local_checkpoint(
        SIM.clustered_fixture(e), eager=False
    )
    cc, qc, exact_c, denom_c = corpus_frames(cf, 8, 16, 8)
    cands.append(lsh_cands("clus", cc, qc, ANN_FRONTIER_LSH_CLUSTERED))
    # trained coarse quantizer: Lloyd's k=8 cells + their centroids,
    # checkpointed at the trained-artifact boundary
    assigned = caching.tracked_local_checkpoint(
        SIM.kmeans_assign(cf, k=8, iters=2).select("vec_id", "cell"),
        eager=False,
    )
    cells_c = cc.join(
        assigned.select(F.col("vec_id").alias("neighbor_id"), "cell"),
        "neighbor_id",
    )
    cent_c = SIM.label_centroids(
        cf.join(assigned, "vec_id"), "embedding", "cell"
    ).select("cell", "centroid")
    cands.append(
        ivf_cands("clus", cells_c, cent_c, qc, ANN_FRONTIER_IVF_NPROBES["clus"])
    )

    cand_all = cands[0]
    for c in cands[1:]:
        cand_all = cand_all.unionByName(c)
    keys = ["corpus", "family", "cfg"]

    n_cand = cand_all.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    w5f = Window.partitionBy(*keys, "query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    ann_all = (
        cand_all.withColumn("rank", F.row_number().over(w5f))
        .filter(F.col("rank") <= 5)
        .select(*keys, "query_id", "neighbor_id")
    )
    exact_all = exact_i.select(
        F.lit("iso").alias("corpus"), "query_id", "neighbor_id"
    ).unionByName(
        exact_c.select(
            F.lit("clus").alias("corpus"), "query_id", "neighbor_id"
        )
    )
    n_hit = ann_all.join(
        exact_all, ["corpus", "query_id", "neighbor_id"]
    ).groupBy(*keys).agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    n_exact = exact_all.groupBy("corpus").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    denom = denom_i.select(
        F.lit("iso").alias("corpus"), "__nq", "__nc"
    ).unionByName(
        denom_c.select(F.lit("clus").alias("corpus"), "__nq", "__nc")
    )
    meta = spark.createDataFrame(
        meta_rows, "corpus string, family string, cfg string, n_probes int"
    )
    return (
        meta.join(n_cand, keys, "left")
        .join(n_hit, keys, "left")
        .join(n_exact, "corpus")
        .join(denom, "corpus")
        .select(
            "corpus",
            "family",
            "cfg",
            "n_probes",
            F.coalesce(F.col("n_candidates"), F.lit(0).cast("long")).alias(
                "n_candidates"
            ),
            F.round(
                F.coalesce(F.col("n_candidates"), F.lit(0)).cast("double")
                / (F.col("__nq") * (F.col("__nc") - 1)),
                6,
            ).alias("scan_fraction"),
            "n_exact",
            F.coalesce(F.col("n_hit"), F.lit(0).cast("long")).alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.col("n_exact"),
                4,
            ).alias("recall"),
        )
    )


#: recall@5 the tuner must reach; the selected operating point is the
#: cheapest (lowest scan_fraction) config meeting it across BOTH
#: families. 0.9 sits between the clustered arms' honest readings so
#: the selection is exercised, not vacuous.
ANN_TUNED_TARGET_RECALL = 0.9


def _ann_tuned_oracle() -> str:
    """Generated DuckDB replay of the tuner: the clustered-corpus LSH
    and trained-quantizer IVF arms (the same formulations as the
    frontier oracle's `clus` CTEs — fixture, width-8 buckets, Lloyd's
    k=8 × 2 iterations with 6-place rounding), per-config metrics, the
    target-recall argmin selection, and the winner's top-5 rows."""
    cos = _COS_SQL
    d2 = _D2_SQL
    bucket = _rp_bucket_sql("embedding")  # width 8 (both LSH configs)
    ctes = [
        f"cf AS ({_CLUSTERED_FIXTURE_SQL})",
        f"cb AS (SELECT vec_id, embedding, {bucket} AS bucket FROM cf)",
        "cq AS (SELECT vec_id AS query_id, embedding AS qvec, "
        "bucket AS qbucket FROM cb WHERE vec_id >= 8 AND vec_id < 16)",
        "nq AS (SELECT CAST(count(*) AS BIGINT) AS v FROM cq)",
        "nc AS (SELECT CAST(count(*) AS BIGINT) AS v FROM cf)",
        f"""ex_scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               round({cos.format(a="q.qvec", b="e.embedding")}, 6) AS sim
        FROM cf e, cq q WHERE e.vec_id <> q.query_id)""",
        f"exact AS ({_topk_cte('ex_scored')})",
        "nex AS (SELECT CAST(count(*) AS BIGINT) AS v FROM exact)",
        # trained coarse quantizer — Lloyd's k=8, 2 iterations, seeds =
        # first 8 ids, distances and means rounded to 6 (replays
        # similarity.kmeans_assign exactly as the frontier oracle does)
        "kseeds AS (SELECT vec_id AS cell, embedding AS centroid "
        "FROM cf WHERE vec_id < 8)",
        f"""ka1 AS (
        SELECT vec_id, cell FROM (
            SELECT v.vec_id, s.cell,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY round({d2.format(a="v.embedding",
                                                 b="s.centroid")}, 6),
                                s.cell) AS r
            FROM cf v, kseeds s) WHERE r = 1)""",
        """kc10 AS (
        SELECT a.cell, i, round(avg(v.embedding[i]), 6) AS m
        FROM cf v JOIN ka1 a USING (vec_id), range(1, 65) t(i)
        GROUP BY a.cell, i)""",
        "kc1 AS (SELECT cell, list(m ORDER BY i) AS centroid "
        "FROM kc10 GROUP BY cell)",
        f"""ka2 AS (
        SELECT vec_id, cell FROM (
            SELECT v.vec_id, c.cell,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY round({d2.format(a="v.embedding",
                                                 b="c.centroid")}, 6),
                                c.cell) AS r
            FROM cf v, kc1 c) WHERE r = 1)""",
        """cent0 AS (
        SELECT a.cell, i, round(avg(v.embedding[i]), 6) AS m
        FROM cf v JOIN ka2 a USING (vec_id), range(1, 65) t(i)
        GROUP BY a.cell, i)""",
        "cent AS (SELECT cell, list(m ORDER BY i) AS centroid "
        "FROM cent0 GROUP BY cell)",
        # IVF routing shared across nprobe configs
        f"""route AS (
        SELECT q.query_id, q.qvec, c.cell,
               round({cos.format(a="q.qvec", b="c.centroid")}, 6) AS csim
        FROM cq q, cent c)""",
        """best AS (
        SELECT query_id, qvec, cell,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY csim DESC, cell) AS r
        FROM route)""",
    ]
    parts = []
    for p, r in ANN_FRONTIER_LSH_CLUSTERED:
        offs = SIM.multiprobe_offsets(p, r)
        ctes.append(
            f"""cand_lsh_p{p}_r{r} AS (
        SELECT pr.query_id, e.vec_id AS neighbor_id,
               round({cos.format(a="pr.qvec", b="e.embedding")}, 6) AS sim
        FROM cb e JOIN (
            SELECT query_id, qvec, xor(qbucket, off) AS probe_bucket
            FROM cq, UNNEST({offs}) t(off)) pr
          ON e.bucket = pr.probe_bucket
         AND e.vec_id <> pr.query_id)"""
        )
        parts.append(
            f"SELECT 'lsh' AS family, 'p{p}_r{r}' AS cfg, "
            f"{len(offs)} AS n_probes, query_id, neighbor_id, sim "
            f"FROM cand_lsh_p{p}_r{r}"
        )
    for n in ANN_FRONTIER_IVF_NPROBES["clus"]:
        ctes.append(
            f"""cand_ivf_np{n} AS (
        SELECT b.query_id, e.vec_id AS neighbor_id,
               round({cos.format(a="b.qvec", b="e.embedding")}, 6) AS sim
        FROM cf e JOIN ka2 m ON e.vec_id = m.vec_id
        JOIN best b ON m.cell = b.cell AND b.r <= {n}
        WHERE e.vec_id <> b.query_id)"""
        )
        parts.append(
            f"SELECT 'ivf' AS family, 'np{n}' AS cfg, {n} AS n_probes, "
            f"query_id, neighbor_id, sim FROM cand_ivf_np{n}"
        )
    ctes += [
        "allc AS (" + "\n    UNION ALL ".join(parts) + ")",
        """ann AS (
        SELECT family, cfg, query_id, neighbor_id,
               CAST(rank AS BIGINT) AS rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY family, cfg, query_id
                ORDER BY sim DESC, neighbor_id) AS rank
            FROM allc) WHERE rank <= 5)""",
        """met AS (
        SELECT family, cfg, n_probes,
               round(CAST(count(*) AS DOUBLE)
                     / ((SELECT v FROM nq) * ((SELECT v FROM nc) - 1)),
                     6) AS scan_fraction
        FROM allc GROUP BY family, cfg, n_probes)""",
        """hit AS (
        SELECT family, cfg, CAST(count(*) AS BIGINT) AS n_hit
        FROM ann a JOIN exact e ON a.query_id = e.query_id
                               AND a.neighbor_id = e.neighbor_id
        GROUP BY family, cfg)""",
        """metrics AS (
        SELECT m.family, m.cfg, m.n_probes, m.scan_fraction,
               round(CAST(coalesce(h.n_hit, 0) AS DOUBLE)
                     / (SELECT v FROM nex), 4) AS recall
        FROM met m LEFT JOIN hit h ON m.family = h.family
                                  AND m.cfg = h.cfg)""",
        f"""tuned AS (
        SELECT * FROM metrics
        ORDER BY (recall >= {ANN_TUNED_TARGET_RECALL}) DESC,
                 CASE WHEN recall >= {ANN_TUNED_TARGET_RECALL}
                      THEN scan_fraction ELSE 1.0 - recall END ASC,
                 family, cfg
        LIMIT 1)""",
    ]
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    "
        + "SELECT t.family, t.cfg, t.n_probes, t.recall, t.scan_fraction, "
        "a.query_id, a.neighbor_id, a.rank "
        "FROM tuned t JOIN ann a ON a.family = t.family AND a.cfg = t.cfg"
    )


@query("similarity_ann_tuned", oracle=_ann_tuned_oracle())
def q_similarity_ann_tuned(spark, sf_dir):
    """Recall-targeted ANN operating-point selection:
    given a target recall@5, evaluate the clustered corpus's candidate
    index configurations across BOTH families — multi-probe sign-LSH
    (p8_r1/p8_r2) and trained-quantizer IVF (np1/np2, the Lloyd's k=8
    quantizer a real deployment trains) — and return the CHEAPEST
    config meeting the target (argmin scan_fraction; falls back to the
    highest-recall config if none meets) together with that config's
    actual top-5 retrieval. This is the step an index user performs by
    hand over the frontier table; here it is one declarative plan whose
    driver gate fails if a family, quantizer, metric, or the selection
    itself regresses.

    Pure plan composition over green operators (clustered_fixture,
    kmeans_assign, label_centroids, rp_bucket, multiprobe_offsets,
    topk_bruteforce) — ann_frontier_sweep itself is untouched. Plan
    shape follows the frontier's adopted shared-scan form: ONE
    signed+celled corpus checkpoint serves both families; each family
    joins the corpus ONCE against its cfg-tagged probe union; one top-5
    window over (family, cfg, query); tiny grouped metrics; the winner
    is a 1-row broadcast joined back onto the tagged top-5 frame — no
    collects, no corpus shuffles, no data-dependent plan (the "choice"
    is a join key, so at 100 TB the selection costs one small-frame
    sort, not a re-plan)."""
    from movies_etl_spark.operators import caching
    from movies_etl_spark.operators.dedup import dot_expr, l2norm_expr

    e = _t(spark, sf_dir, "embeddings")
    cf = caching.tracked_local_checkpoint(
        SIM.clustered_fixture(e), eager=False
    )
    qset = cf.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 16))
    exact = caching.tracked_local_checkpoint(
        SIM.topk_bruteforce(cf, qset, k=5).select("query_id", "neighbor_id"),
        eager=False,
    )
    # trained-artifact boundary, checkpointed exactly as the frontier
    assigned = caching.tracked_local_checkpoint(
        SIM.kmeans_assign(cf, k=8, iters=2).select("vec_id", "cell"),
        eager=False,
    )
    # ONE signed+celled corpus frame serves both family arms
    c_all = caching.tracked_local_checkpoint(
        cf.join(assigned, "vec_id").select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cvec"),
            SIM.rp_bucket("embedding").cast("int").alias("bucket"),
            l2norm_expr("embedding").alias("cnrm"),
            "cell",
        ),
        eager=False,
    )
    q_all = c_all.filter(
        (F.col("neighbor_id") >= 8) & (F.col("neighbor_id") < 16)
    ).select(
        F.col("neighbor_id").alias("query_id"),
        F.col("cvec").alias("qvec"),
        F.col("bucket").alias("qbucket"),
        F.col("cnrm").alias("qnrm"),
    )
    cent = SIM.label_centroids(
        cf.join(assigned, "vec_id"), "embedding", "cell"
    ).select("cell", "centroid")
    denom = caching.tracked_local_checkpoint(
        qset.agg(F.count(F.lit(1)).alias("__nq")).crossJoin(
            cf.agg(F.count(F.lit(1)).alias("__nc"))
        ),
        eager=False,
    )
    sim = F.round(
        dot_expr("qvec", "cvec") / (F.col("qnrm") * F.col("cnrm")),
        6,
    )
    # LSH arm: cfg-tagged probe union, ONE corpus join (both configs at
    # width 8, so no per-config modulus is needed)
    # one exploded (cfg, n_probes, off) struct-array literal instead of
    # a per-config unionByName chain (same move as the
    # frontier arms: identical row multiset, one analyzed select,
    # smaller tree under every downstream analysis)
    lsh_items = []
    for p, r in ANN_FRONTIER_LSH_CLUSTERED:
        offs = SIM.multiprobe_offsets(p, r)
        lsh_items += [
            f"named_struct('cfg','p{p}_r{r}','np',{len(offs)},'off',{o})"
            for o in offs
        ]
    lsh_probes = q_all.select(
        "query_id",
        "qvec",
        "qnrm",
        "qbucket",
        F.explode(F.expr("array(" + ",".join(lsh_items) + ")")).alias("pc"),
    ).select(
        F.col("pc.cfg").alias("cfg"),
        F.col("pc.np").alias("n_probes"),
        "query_id",
        "qvec",
        "qnrm",
        F.col("qbucket").bitwiseXOR(F.col("pc.off")).cast("int").alias(
            "probe_bucket"
        ),
    )
    lsh_cand = c_all.join(
        F.broadcast(lsh_probes),
        (F.col("bucket") == F.col("probe_bucket"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).select(
        F.lit("lsh").alias("family"),
        "cfg",
        "n_probes",
        "query_id",
        "neighbor_id",
        sim.alias("sim"),
    )
    # IVF arm: one routed frame, cfg-tagged nprobe union, ONE cells join
    routed = q_all.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "qvec",
        "qnrm",
        "cell",
        F.round(
            dot_expr("qvec", "centroid")
            / (F.col("qnrm") * l2norm_expr("centroid")),
            6,
        ).alias("csim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("cell"))
    best = routed.withColumn("r", F.row_number().over(wq))
    ivf_items = [
        f"named_struct('cfg','np{n}','np',{n})"
        for n in ANN_FRONTIER_IVF_NPROBES["clus"]
    ]
    ivf_probes = (
        best.select(
            "query_id",
            "qvec",
            "qnrm",
            "cell",
            "r",
            F.explode(
                F.expr("array(" + ",".join(ivf_items) + ")")
            ).alias("pc"),
        )
        .filter(F.col("r") <= F.col("pc.np"))
        .select(
            F.col("pc.cfg").alias("cfg"),
            F.col("pc.np").alias("n_probes"),
            "query_id",
            "qvec",
            "qnrm",
            "cell",
        )
    )
    ivf_cand = (
        c_all.join(F.broadcast(ivf_probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            F.lit("ivf").alias("family"),
            "cfg",
            "n_probes",
            "query_id",
            "neighbor_id",
            sim.alias("sim"),
        )
    )
    cand_all = lsh_cand.unionByName(ivf_cand)
    keys = ["family", "cfg"]
    w5 = Window.partitionBy(*keys, "query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    ann = (
        cand_all.withColumn("rank", F.row_number().over(w5).cast("long"))
        .filter(F.col("rank") <= 5)
        .select(*keys, "query_id", "neighbor_id", "rank")
    )
    met = cand_all.groupBy("family", "cfg", "n_probes").agg(
        F.count(F.lit(1)).alias("__ncand")
    )
    hit = ann.join(exact, ["query_id", "neighbor_id"]).groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_hit")
    )
    nex = exact.agg(F.count(F.lit(1)).alias("__nex"))
    metrics = (
        met.join(hit, keys, "left")
        .crossJoin(F.broadcast(denom))
        .crossJoin(F.broadcast(nex))
        .select(
            "family",
            "cfg",
            "n_probes",
            F.round(
                F.col("__ncand").cast("double")
                / (F.col("__nq") * (F.col("__nc") - 1)),
                6,
            ).alias("scan_fraction"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.col("__nex"),
                4,
            ).alias("recall"),
        )
    )
    meets = F.col("recall") >= F.lit(ANN_TUNED_TARGET_RECALL)
    cost = F.when(meets, F.col("scan_fraction")).otherwise(
        F.lit(1.0) - F.col("recall")
    )
    winner = metrics.orderBy(
        meets.desc(), cost.asc(), "family", "cfg"
    ).limit(1)
    return F.broadcast(winner).join(ann, keys).select(
        "family",
        "cfg",
        "n_probes",
        "recall",
        "scan_fraction",
        "query_id",
        "neighbor_id",
        "rank",
    )


@query(
    "dedup_containment",
    oracle=f"""
    WITH shing AS ({_INT_SHINGLES_SQL.format(corpus=_NEAR_CORPUS_SQL)}),
    sig0 AS (SELECT doc_id, shingles, {_SIG_COLS_SQL} FROM shing),
    sig AS (SELECT *, {_BAND_COLS_SQL} FROM sig0),
    cand AS ({_CAND_UNION_SQL})
    SELECT c.id_a, c.id_b,
           round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / least(CAST(len(list_distinct(a.shingles)) AS DOUBLE),
                         CAST(len(list_distinct(b.shingles)) AS DOUBLE)), 4)
               AS containment,
           round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / CAST(len(list_distinct(a.shingles || b.shingles)) AS DOUBLE),
                 4) AS jac
    FROM cand c
    JOIN sig a ON a.doc_id = c.id_a
    JOIN sig b ON b.doc_id = c.id_b
    WHERE len(a.shingles) > 0 AND len(b.shingles) > 0
      AND round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / least(CAST(len(list_distinct(a.shingles)) AS DOUBLE),
                    CAST(len(list_distinct(b.shingles)) AS DOUBLE)), 4) >= 0.9
    """,
)
def q_dedup_containment(spark, sf_dir):
    """Containment-based near-dedup: |A∩B| / min(|A|,|B|) over the same
    LSH candidate pairs — the ASYMMETRIC duplicate detector. A truncated
    copy (the planted first-(n−10)-tokens variants) has containment
    ≈ 1.0 but Jaccard well below it, so a Jaccard-0.9 threshold misses
    exactly the sub-document copies a containment-0.9 threshold keeps —
    why suffix/prefix scrapes and quote-heavy pages need containment
    next to Jaccard (both emitted here for the comparison).

    Same scale shape as dedup_minhash_lsh: banded candidate generation,
    set arithmetic only on candidate pairs; distinct shingle counts are
    per-side (no cross-pair state)."""
    corpus = _near_corpus(spark, sf_dir)
    sh_all = caching.tracked_persist(D.shingled(corpus, "text", "doc_id"))
    pairs = D.candidate_pairs_minhash(sh_all, "doc_id")
    sh = sh_all.filter(F.size("shingles") > 0)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    containment = F.round(
        inter.cast("double")
        / F.least(
            F.size(F.array_distinct(F.col("sh_a"))).cast("double"),
            F.size(F.array_distinct(F.col("sh_b"))).cast("double"),
        ),
        4,
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            containment.alias("containment"),
            F.round(D.jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias("jac"),
        )
        .filter(F.col("containment") >= 0.9)
    )
