"""Independent-formulation ground-truth tests.

The repo's oracle discipline replicates the ALGORITHM in DuckDB so both
engines replay identical arithmetic — which validates the replay, not
the algorithm: a formulation bug shared by both sides keeps parity
green while the answer is wrong (proven by the r4 triangle_count
incident: a wedge-ordering mismatch undercounted triangles by 50% with
a green CORRECTNESS row). These tests close that class for every query
whose oracle is an algorithm replay, by recomputing the answer with a
STRUCTURALLY DIFFERENT implementation (driver-side python/numpy over
collected inputs — fine at test SF, never a production path).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()


def _edges_weighted(spark, sf_dir):
    """Co-purchase weighted edges collected to the driver, built from a
    raw pandas pass over lineitem — no Spark aggregation shared with the
    queries under test."""
    import itertools

    import pandas as pd

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey"])
    w: dict[tuple[int, int], int] = {}
    for _, grp in li.groupby("l_orderkey"):
        parts = sorted(set(grp.l_partkey))
        for a, b in itertools.combinations(parts, 2):
            w[(a, b)] = w.get((a, b), 0) + 1
    return w


def test_pagerank_matches_independent_power_iteration(spark, sf_dir):
    """2-round damped power iteration recomputed with plain python dicts
    (no rounding ladder, no SQL) — ranks must agree to the output's own
    rounding tolerance and the top-20 sets must match."""
    w = _edges_weighted(spark, sf_dir)
    # undirected -> both directions
    out_w: dict[int, float] = {}
    adj: dict[int, list[tuple[int, int]]] = {}
    for (a, b), ww in w.items():
        for s, d in ((a, b), (b, a)):
            out_w[s] = out_w.get(s, 0) + ww
            adj.setdefault(s, []).append((d, ww))
    nodes = sorted(out_w)
    nn = float(len(nodes))
    pr = {n: 1.0 / nn for n in nodes}
    for _ in range(2):
        nxt = {n: 0.0 for n in nodes}
        for s, outs in adj.items():
            share = pr[s] / out_w[s]
            for d, ww in outs:
                nxt[d] += share * ww
        pr = {n: 0.15 / nn + 0.85 * v for n, v in nxt.items()}
    ranked = sorted(((round(v * 1e6, 1), n) for n, v in pr.items()), key=lambda t: (-t[0], t[1]))
    want = ranked[:20]

    got = QUERIES["pagerank_parts"](spark, sf_dir).collect()
    got_pairs = [(r["part"], r["pr_ppm"]) for r in got]
    want_map = {n: v for v, n in want}
    assert len(got_pairs) == 20
    # membership: strict except AT the #20/#21 boundary, where the two
    # implementations' rounding ladders may legitimately order parts
    # whose ppm differ by less than the 0.5 tolerance differently.
    # Parts clearly above the cut MUST be present; returned parts must
    # at least be within tolerance of the cut.
    cut = want[-1][0]
    required = {n for v, n in want if v > cut + 0.5}
    allowed = {n for v, n in ranked if v >= cut - 0.5}
    got_set = {p for p, _ in got_pairs}
    assert required <= got_set, required - got_set
    assert got_set <= allowed, got_set - allowed
    ppm_map = {n: v for v, n in ranked}
    for part, ppm in got_pairs:
        assert abs(ppm - ppm_map[part]) < 0.5, (part, ppm, ppm_map[part])


def test_kmeans_matches_independent_numpy_lloyds(spark, sf_dir):
    """Lloyd's k-means (k=4, 2 iterations, first-k seeds) recomputed in
    numpy with the same quantization points — every cell assignment must
    match."""
    import numpy as np
    import pandas as pd

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    emb = emb.sort_values("vec_id").reset_index(drop=True)
    V = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    ids = emb.vec_id.to_numpy()
    cents = {int(i): V[ids == i][0] for i in range(4)}

    def assign(cmap):
        cells = {}
        for i, vid in enumerate(ids):
            best = min(
                cmap.items(),
                key=lambda kv: (round(float(((V[i] - kv[1]) ** 2).sum()), 6), kv[0]),
            )[0]
            cells[int(vid)] = best
        return cells

    cells = assign(cents)
    # one recompute round (iters=2 => assign, recompute, assign)
    newc = {}
    for c in sorted(set(cells.values())):
        members = V[[cells[int(v)] == c for v in ids]]
        newc[c] = np.round(members.mean(axis=0), 6)
    cells = assign(newc)

    got = {r["vec_id"]: r["cell"] for r in QUERIES["kmeans_assign"](spark, sf_dir).collect()}
    assert got == cells


def test_cluster_components_match_union_find(spark, sf_dir):
    """Connected components recomputed with a plain union-find over the
    verified edge list (collected once) — component membership must be
    identical to the label-propagation result."""
    from movies_etl_spark.plans.queries_ext import _verified_near_dup_edges

    edges = [
        (r["id_a"], r["id_b"])
        for r in _verified_near_dup_edges(spark, sf_dir).collect()
    ]
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {n: find(n) for n in parent}

    got = {
        r["node"]: r["component"]
        for r in QUERIES["dedup_cluster_components"](spark, sf_dir).collect()
    }
    assert got == want


def test_bm25_matches_independent_python_scoring(spark, sf_dir):
    """BM25 top-10 recomputed with a dict-based python implementation
    (no folds, no rounding ladder) — the top-10 doc set must match and
    scores agree to 1e-3 (the query rounds idf/contributions; the
    independent path doesn't, so exact equality is not expected)."""
    import re

    import pandas as pd

    from movies_etl_spark.plans.queries_analytics import (
        _BM25_B,
        _BM25_K1,
        _BM25_TERMS,
    )

    terms = list(_BM25_TERMS)
    k1, b = _BM25_K1, _BM25_B
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    toks = {
        r.doc_id: re.findall(r"[a-z]+", r.text.lower()) for r in docs.itertuples()
    }
    N = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / N
    scores = {}
    for t in terms:
        df = sum(1 for tk in toks.values() if t in tk)
        idf = math.log((N - df + 0.5) / (df + 0.5) + 1.0)
        for d, tk in toks.items():
            tf = tk.count(t)
            if tf:
                dl = len(tk)
                scores[d] = scores.get(d, 0.0) + idf * (
                    tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
                )
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]

    got = QUERIES["bm25_rank"](spark, sf_dir).collect()
    got_ids = [r["doc_id"] for r in got]
    assert got_ids == [d for d, _ in want]
    for r, (_, sc) in zip(got, want):
        assert abs(r["score"] - sc) < 1e-3, (r["doc_id"], r["score"], sc)


def test_sequence_pack_matches_pandas_cumsum(spark, sf_dir):
    """The two-phase distributed prefix sum recomputed as ONE serial
    pandas cumsum over the identical (shard, hash, doc_id) order — every
    doc's (seq_first, seq_last, bin_offset) must match."""
    import hashlib

    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    docs["n"] = docs.text.str.split(" ").str.len()
    docs["h"] = docs.doc_id.map(lambda d: hashlib.md5(str(d).encode()).hexdigest())
    docs["shard"] = docs.doc_id.map(
        lambda d: int(hashlib.md5(str(d).encode()).hexdigest()[:12], 16) % 8
    )
    docs = docs.sort_values(["shard", "h", "doc_id"]).reset_index(drop=True)
    docs["cum_before"] = docs.n.cumsum().shift(fill_value=0)
    budget = 512
    want = {
        int(r.doc_id): (
            int(r.cum_before // budget),
            int((r.cum_before + r.n - 1) // budget),
            int(r.cum_before % budget),
        )
        for r in docs.itertuples()
    }
    got = {
        r["doc_id"]: (r["seq_first"], r["seq_last"], r["bin_offset"])
        for r in QUERIES["sequence_pack"](spark, sf_dir).collect()
    }
    assert got == want


def test_minhash_verified_pairs_have_true_jaccard(spark, sf_dir):
    """Every pair dedup_minhash_lsh emits must truly have shingle-set
    Jaccard ≥ 0.5, recomputed with plain python sets over an
    independently tokenized corpus (banding recall is probabilistic by
    design; the VERIFY step is exact and must never pass a false
    positive)."""
    import hashlib

    import pandas as pd

    from movies_etl_spark.operators.dedup import (
        MINHASH_P,
        SHINGLE_C1,
        SHINGLE_C2,
    )

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    corpus = {int(r.doc_id): r.text for r in docs.itertuples()}
    for r in docs.itertuples():
        toks = r.text.split(" ")
        if int(r.doc_id) % 50 == 0 and len(toks) >= 20:
            corpus[int(r.doc_id) + 1000000] = " ".join(toks[: len(toks) - 10])

    def shingles(text):
        th = [
            int(hashlib.md5(t.encode()).hexdigest()[:12], 16) % MINHASH_P
            for t in text.split(" ")
        ]
        return {
            (th[i] * SHINGLE_C1 + th[i + 1] * SHINGLE_C2 + th[i + 2]) % MINHASH_P
            for i in range(len(th) - 2)
        } if len(th) >= 3 else set()

    sh = {d: shingles(t) for d, t in corpus.items()}
    pairs = QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
    assert len(pairs) > 0
    for r in pairs:
        a, b = sh[r["id_a"]], sh[r["id_b"]]
        true_j = len(a & b) / len(a | b)
        assert round(true_j, 4) >= 0.5, (r["id_a"], r["id_b"], true_j)
        assert abs(round(true_j, 4) - r["jac"]) < 1e-9


def test_hash_fingerprints_match_python_witnesses(spark, sf_dir):
    """SimHash, the Karp-Rabin rolling hash, and the sign-LSH bucket are
    all replay-oracled (md5-derived arithmetic mirrored in SQL); this
    recomputes each in plain python/numpy for every document/vector and
    requires bit-identical agreement."""
    import hashlib

    import numpy as np
    import pandas as pd

    from movies_etl_spark.operators.similarity import RP_PLANES

    # --- simhash16 + rolling hash over documents
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])

    def tok_hash(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:12], 16)

    def simhash16(text):
        hs = [tok_hash(t) for t in text.split(" ")]
        out = 0
        for j in range(16):
            s = sum(((h >> j) & 1) * 2 - 1 for h in hs)
            if s > 0:
                out += 1 << j
        return out

    def rolling(text):
        acc = 0
        for t in text.split(" "):
            acc = (acc * 31 + tok_hash(t)) % 1000000007
        return acc

    want_sim = {int(r.doc_id): simhash16(r.text) for r in docs.itertuples()}
    got_sim = {
        r["doc_id"]: r["simhash"]
        for r in QUERIES["dedup_simhash"](spark, sf_dir).collect()
    }
    assert got_sim == want_sim

    got_fp = {
        r["doc_id"]: r["rolling"]
        for r in QUERIES["doc_fingerprint"](spark, sf_dir).collect()
    }
    want_fp = {int(r.doc_id): rolling(r.text) for r in docs.itertuples()}
    assert got_fp == want_fp

    # --- rp_bucket over embeddings (left-to-right fold, rounded sign)
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    P = np.array(RP_PLANES)

    def bucket(vec):
        out = 0
        for j, plane in enumerate(P):
            acc = 0.0
            for x, p in zip(vec, plane):
                acc += float(x) * float(p)
            if round(acc, 6) >= 0:
                out += 1 << j
        return out

    want_b = {int(r.vec_id): bucket(r.embedding) for r in emb.itertuples()}
    from movies_etl_spark.operators import similarity as SIM
    from movies_etl_spark.sources import readers

    e = readers.load_table(spark, sf_dir, "embeddings")
    got_b = {
        r["vec_id"]: r["bucket"]
        for r in e.select(
            "vec_id", SIM.rp_bucket("embedding").cast("int").alias("bucket")
        ).collect()
    }
    assert got_b == want_b


def test_curation_pipeline_matches_python_reimplementation(spark, sf_dir):
    """THE end-to-end composite, recomputed in plain python: near-corpus
    construction, quality gates, 5-gram decontamination, MinHash-LSH
    banding, Jaccard-verified edges, union-find survivor selection, and
    split assignment — every surviving (doc_id, text_hash, split) row
    must match exactly. The composite's oracle replays the same chain in
    SQL; this witness is the non-replay check of the whole chain."""
    import hashlib
    import itertools

    import pandas as pd

    from movies_etl_spark.operators.dedup import (
        MINHASH_P,
        MINHASH_SEEDS,
        N_BANDS,
        N_MINHASH,
        SHINGLE_C1,
        SHINGLE_C2,
    )

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    corpus = {int(r.doc_id): r.text for r in docs.itertuples()}
    for r in docs.itertuples():
        toks = r.text.split(" ")
        if int(r.doc_id) % 50 == 0 and len(toks) >= 20:
            corpus[int(r.doc_id) + 1000000] = " ".join(toks[: len(toks) - 10])

    # quality gates: >=10 tokens, duplicate fraction (4-rounded) <= 0.5
    def dup_frac(toks):
        return round(1.0 - len(set(toks)) / len(toks), 4) if toks else 0.0

    qual = {
        d: t
        for d, t in corpus.items()
        if len(t.split(" ")) >= 10 and dup_frac(t.split(" ")) <= 0.5
    }

    # decontamination: eval docs are doc_id % 97 == 0 (from the FULL
    # corpus); drop any remaining doc sharing a word 5-gram
    def grams5(text):
        toks = text.split(" ")
        return {
            " ".join(toks[i : i + 5]) for i in range(len(toks) - 4)
        } if len(toks) >= 5 else set()

    ev = set().union(*(grams5(t) for d, t in corpus.items() if d % 97 == 0))
    clean = {
        d: t
        for d, t in qual.items()
        if d % 97 != 0 and not (grams5(t) & ev)
    }

    # MinHash-LSH banded candidates + Jaccard-verified edges
    def shingles(text):
        th = [
            int(hashlib.md5(t.encode()).hexdigest()[:12], 16) % MINHASH_P
            for t in text.split(" ")
        ]
        return [
            (th[i] * SHINGLE_C1 + th[i + 1] * SHINGLE_C2 + th[i + 2]) % MINHASH_P
            for i in range(len(th) - 2)
        ] if len(th) >= 3 else []

    sh = {d: shingles(t) for d, t in clean.items()}
    bands: dict[tuple[int, str], list[int]] = {}
    for d, s in sh.items():
        if not s:
            continue
        sig = [min((a * h + b) % MINHASH_P for h in s) for a, b in MINHASH_SEEDS[:N_MINHASH]]
        for bi in range(N_BANDS):
            key = f"{sig[2 * bi]}|{sig[2 * bi + 1]}"
            bands.setdefault((bi, key), []).append(d)
    cand = set()
    for members in bands.values():
        for a, b in itertools.combinations(sorted(members), 2):
            cand.add((a, b))
    edges = []
    for a, b in cand:
        sa, sb = set(sh[a]), set(sh[b])
        if sa and sb and round(len(sa & sb) / len(sa | sb), 4) >= 0.5:
            edges.append((a, b))

    # union-find: survivors keep component == self
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    dropped = {n for n in parent if find(n) != n}

    def bucket(d):
        return int(hashlib.md5(str(d).encode()).hexdigest()[:12], 16) % 100

    want = {
        d: (
            hashlib.md5(t.encode()).hexdigest(),
            "train" if bucket(d) < 80 else ("valid" if bucket(d) < 90 else "test"),
        )
        for d, t in clean.items()
        if d not in dropped
    }

    got = {
        r["doc_id"]: (r["text_hash"], r["split"])
        for r in QUERIES["curation_pipeline"](spark, sf_dir).collect()
    }
    assert got == want


def test_zorder_key_matches_python_bit_interleave(spark, sf_dir):
    """The Morton interleave recomputed with plain python bit ops —
    every order's zkey must be bit-identical."""
    import datetime

    import pandas as pd

    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey", "o_orderdate"])
    epoch = datetime.date(1992, 1, 1)

    def z(x, y):
        out = 0
        for k in range(16):
            out |= ((x >> k) & 1) << (2 * k)
            out |= ((y >> k) & 1) << (2 * k + 1)
        return out

    want = {}
    for r in o.itertuples():
        x = int(r.o_custkey) % 65536
        d = r.o_orderdate
        d = d.date() if hasattr(d, "date") else d
        y = (d - epoch).days % 65536
        want[int(r.o_orderkey)] = z(x, y)

    got = {
        r["o_orderkey"]: r["zkey"]
        for r in QUERIES["zorder_key"](spark, sf_dir).collect()
    }
    assert got == want


def test_weighted_sample_matches_python_aes(spark, sf_dir):
    """Efraimidis-Spirakis top-k recomputed with python's md5/log —
    identical doc set in identical rank order."""
    import hashlib

    import pandas as pd

    d = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "lang", "n_chars"])
    rows = []
    for r in d.itertuples():
        h48 = int(hashlib.md5(f"ws:{r.doc_id}".encode()).hexdigest()[:12], 16)
        u = (h48 + 1) / float(2**48)
        rows.append((round(math.log(u) / r.n_chars, 9), int(r.doc_id)))
    got = QUERIES["weighted_sample_topk"](spark, sf_dir).collect()
    # the query's sample size is fixed at 100 — pin it so an
    # empty/truncated result can't pass vacuously against want[:len(got)]
    k = 100
    assert len(got) == min(k, len(rows))
    # A-ES keeps the LARGEST keys (u^(1/w) max ≡ ln(u)/w closest to 0)
    want = sorted(rows, key=lambda t: (-t[0], t[1]))[:k]
    assert [(r["es_key"], r["doc_id"]) for r in got] == want


def test_time_weighted_avg_matches_pandas(spark, sf_dir):
    """TWAP recomputed with a pandas sort + shift per user — twap agrees
    to the query's own rounding (segment sums are folds; pandas sums in
    the same sorted order here, so differences are float-roundoff)."""
    import pandas as pd

    e = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "ts", "event_id", "value"])
    e = e.sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)
    want = {}
    for uid, grp in e.groupby("user_id"):
        ts = grp.ts.astype("int64").to_numpy() / 1e6
        dt = ts[1:] - ts[:-1]
        if len(dt) == 0:
            continue
        vdt = [round(v * d, 6) for v, d in zip(grp.value.to_numpy()[:-1], dt)]
        s, dsum = sum(vdt), sum(dt)
        want[int(uid)] = (len(dt), round(s / dsum, 6))
    got = {
        r["user_id"]: (r["n_segments"], r["twap"])
        for r in QUERIES["time_weighted_avg"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for uid, (n, tw) in got.items():
        assert n == want[uid][0], uid
        assert abs(tw - want[uid][1]) < 1e-4, (uid, tw, want[uid][1])


def test_sessionize_batch_matches_pandas_gaps_and_islands(spark, sf_dir):
    """The 30-minute-gap sessionizer recomputed with a pandas
    sort+cumsum — identical session count, bounds, and event counts."""
    import pandas as pd

    e = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "ts", "event_id"])
    e["s"] = e.ts.dt.floor("s")
    e = e.sort_values(["user_id", "s", "event_id"]).reset_index(drop=True)
    want = set()
    for uid, grp in e.groupby("user_id"):
        gap = grp.s.diff().dt.total_seconds().fillna(1e12) > 1800
        sid = gap.cumsum()
        for _, sess in grp.groupby(sid):
            want.add((int(uid), sess.s.iloc[0], sess.s.iloc[-1], len(sess)))
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in QUERIES["sessionize_batch"](spark, sf_dir).collect()
    }
    assert got == want


def test_bigram_perplexity_matches_python_lm(spark, sf_dir):
    """The self-trained add-one bigram LM recomputed with python dicts —
    per-doc bigram counts match exactly and avg_nll agrees to the
    query's rounding ladder."""
    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    toks = {int(r.doc_id): r.text.split(" ") for r in docs.itertuples()}
    vocab = set(t for tk in toks.values() for t in tk)
    V = len(vocab)
    c2: dict[tuple[str, str], int] = {}
    c1: dict[str, int] = {}
    for tk in toks.values():
        if len(tk) < 2:
            continue
        for a, b in zip(tk, tk[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
            c1[a] = c1.get(a, 0) + 1
    want = {}
    for d, tk in toks.items():
        if len(tk) < 2:
            continue
        terms = [
            round(-math.log((c2[(a, b)] + 1.0) / (c1[a] + V)), 6)
            for a, b in zip(tk, tk[1:])
        ]
        want[d] = (len(terms), round(sum(terms) / len(terms), 4))
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_nll"])
        for r in QUERIES["bigram_perplexity"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for d, (n, nll) in got.items():
        assert n == want[d][0], d
        assert abs(nll - want[d][1]) < 2e-4, (d, nll, want[d][1])


def test_span_dedup_matches_python_chunk_hashing(spark, sf_dir):
    """20-token chunk duplicate-span fractions recomputed with python
    md5 over the same chunk boundaries — exact match per document."""
    import hashlib

    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    chunks: dict[int, list[str]] = {}
    owners: dict[str, set[int]] = {}
    for r in docs.itertuples():
        tk = r.text.split(" ")
        hs = [
            hashlib.md5(" ".join(tk[i : i + 20]).encode()).hexdigest()
            for i in range(0, len(tk), 20)
        ]
        chunks[int(r.doc_id)] = hs
        for h in hs:
            owners.setdefault(h, set()).add(int(r.doc_id))
    want = {}
    for d, hs in chunks.items():
        dup = sum(1 for h in hs if len(owners[h]) >= 2)
        want[d] = (len(hs), dup, round(dup / len(hs), 4))
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_frac"])
        for r in QUERIES["span_dedup"](spark, sf_dir).collect()
    }
    assert got == want


def _python_winnow_fps(text: str, w: int = 20, k: int = 20) -> set[str]:
    """Independent winnowing reimplementation: md5 of every w-token
    window (stride 1), then the min hash of each k consecutive window
    hashes — plain python loops, no slicing tricks shared with the SQL
    formulation."""
    import hashlib

    tk = text.split(" ")
    n_windows = max(len(tk) - w + 1, 1)
    hs = [
        hashlib.md5(" ".join(tk[i : i + w]).encode()).hexdigest()
        for i in range(n_windows)
    ]
    if len(hs) <= k:
        return {min(hs)}
    return {min(hs[j : j + k]) for j in range(len(hs) - k + 1)}


def test_span_dedup_sliding_matches_python_winnowing(spark, sf_dir):
    """Winnowed fingerprint counts recomputed with python md5 + min
    loops — exact match per document."""
    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    fps: dict[int, set[str]] = {}
    owners: dict[str, set[int]] = {}
    for r in docs.itertuples():
        s = _python_winnow_fps(r.text)
        fps[int(r.doc_id)] = s
        for h in s:
            owners.setdefault(h, set()).add(int(r.doc_id))
    want = {}
    for d, s in fps.items():
        dup = sum(1 for h in s if len(owners[h]) >= 2)
        want[d] = (len(s), dup, round(dup / len(s), 4))
    got = {
        r["doc_id"]: (r["n_fps"], r["n_dup_fps"], r["dup_frac"])
        for r in QUERIES["span_dedup_sliding"](spark, sf_dir).collect()
    }
    assert got == want


def test_span_dedup_sliding_catches_boundary_straddling_duplicate(
    spark, tmp_path
):
    """The coverage claim itself (VERDICT r10 #4): plant a 45-token run
    duplicated across two documents at offsets 5 and 12 — different
    residues mod 20, so NO fixed 20-token chunk of one doc can equal any
    chunk of the other. ``span_dedup`` must report zero duplicated spans
    (the structural miss, proven here, not assumed); the winnowing
    sliding variant must flag BOTH documents (run length 45 ≥ the
    w + k − 1 = 39 guarantee)."""
    import pandas as pd

    run = [f"dup{i}" for i in range(45)]
    doc_a = [f"a{i}" for i in range(5)] + run + [f"a{i}" for i in range(5, 40)]
    doc_b = [f"b{i}" for i in range(12)] + run + [f"b{i}" for i in range(12, 40)]
    pd.DataFrame(
        {"doc_id": [1, 2], "text": [" ".join(doc_a), " ".join(doc_b)]}
    ).to_parquet(tmp_path / "documents.parquet")
    sf = str(tmp_path)

    fixed = {
        r["doc_id"]: r["n_dup_spans"]
        for r in QUERIES["span_dedup"](spark, sf).collect()
    }
    assert fixed == {1: 0, 2: 0}, f"fixed chunks unexpectedly matched: {fixed}"

    sliding = {
        r["doc_id"]: r["n_dup_fps"]
        for r in QUERIES["span_dedup_sliding"](spark, sf).collect()
    }
    assert sliding[1] >= 1 and sliding[2] >= 1, sliding


def test_dedup_survivors_matches_python_pipeline(spark, sf_dir):
    """The standalone dedup composite (LSH → verify → components →
    anti-join, over the near corpus WITHOUT the curation filters)
    recomputed in plain python — exact survivor row-set match."""
    import hashlib
    import itertools

    import pandas as pd

    from movies_etl_spark.operators.dedup import (
        MINHASH_P,
        MINHASH_SEEDS,
        N_BANDS,
        N_MINHASH,
        SHINGLE_C1,
        SHINGLE_C2,
    )

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    corpus = {int(r.doc_id): r.text for r in docs.itertuples()}
    for r in docs.itertuples():
        toks = r.text.split(" ")
        if int(r.doc_id) % 50 == 0 and len(toks) >= 20:
            corpus[int(r.doc_id) + 1000000] = " ".join(toks[: len(toks) - 10])

    def shingles(text):
        th = [
            int(hashlib.md5(t.encode()).hexdigest()[:12], 16) % MINHASH_P
            for t in text.split(" ")
        ]
        return [
            (th[i] * SHINGLE_C1 + th[i + 1] * SHINGLE_C2 + th[i + 2]) % MINHASH_P
            for i in range(len(th) - 2)
        ] if len(th) >= 3 else []

    sh = {d: shingles(t) for d, t in corpus.items()}
    bands: dict[tuple[int, str], list[int]] = {}
    for d, s in sh.items():
        if not s:
            continue
        sig = [min((a * h + b) % MINHASH_P for h in s) for a, b in MINHASH_SEEDS[:N_MINHASH]]
        for bi in range(N_BANDS):
            bands.setdefault((bi, f"{sig[2 * bi]}|{sig[2 * bi + 1]}"), []).append(d)
    cand = set()
    for members in bands.values():
        cand.update(itertools.combinations(sorted(members), 2))
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in cand:
        sa, sb = set(sh[a]), set(sh[b])
        if sa and sb and round(len(sa & sb) / len(sa | sb), 4) >= 0.5:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    dropped = {n for n in parent if find(n) != n}
    want = {
        d: hashlib.md5(t.encode()).hexdigest()
        for d, t in corpus.items()
        if d not in dropped
    }
    got = {
        r["doc_id"]: r["text_hash"]
        for r in QUERIES["dedup_survivors"](spark, sf_dir).collect()
    }
    assert got == want


def test_concurrency_sweep_matches_serial_sweep(spark, sf_dir):
    """The distributed two-phase prefix sum (day-sharded cumulative sums
    + broadcast day-prefix restore, midnight-spanning intervals carried
    by the prefix) must equal the textbook SINGLE-THREADED sweep: sort
    every ±1 point globally, run one python loop, track per-day max."""
    import pandas as pd

    e = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["event_id", "ts", "value"]
    )
    pts = []
    for r in e.itertuples():
        t0 = pd.Timestamp(r.ts)
        t1 = t0 + pd.Timedelta(seconds=int(math.floor(r.value)))
        pts.append((t0, 1, int(r.event_id)))
        pts.append((t1, -1, int(r.event_id)))
    # ends sort before starts at the same instant: half-open intervals
    pts.sort(key=lambda p: (p[0], p[1], p[2]))
    conc, want = 0, {}
    for t, delta, _ in pts:
        conc += delta
        day = t.date()
        mx, n = want.get(day, (conc, 0))
        want[day] = (max(mx, conc), n + 1)

    got = {
        r["day"]: (r["max_concurrent"], r["n_points"])
        for r in QUERIES["concurrency_sweep"](spark, sf_dir).collect()
    }
    assert got == want


def test_gapfill_daily_matches_pandas_reindex(spark, sf_dir):
    """The sequence()+explode densify with gaps-and-islands forward-fill
    must equal a pandas reindex + ffill per user — the one-liner the
    windowed-island formulation replaces at scale."""
    import pandas as pd

    e = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "ts", "value"])
    e["day"] = pd.to_datetime(e.ts).dt.normalize()
    d = (
        e.groupby(["user_id", "day"])
        .agg(n_events=("value", "size"), day_value=("value", "sum"))
        .reset_index()
    )
    d["day_value"] = d.day_value.round(4)
    want = {}
    for uid, grp in d.groupby("user_id"):
        grp = grp.set_index("day").reindex(
            pd.date_range(grp.day.min(), grp.day.max(), freq="D")
        )
        grp["n_events"] = grp.n_events.fillna(0).astype(int)
        grp["day_value"] = grp.day_value.ffill()
        for day, r in grp.iterrows():
            want[(int(uid), day.date())] = (
                int(r.n_events),
                None if pd.isna(r.day_value) else float(r.day_value),
            )

    rows = QUERIES["gapfill_daily"](spark, sf_dir).collect()
    assert len(rows) == len(want)
    for r in rows:
        wn, wv = want[(r["user_id"], r["day"])]
        assert r["n_events"] == wn, (r, wn)
        if wv is None:
            assert r["value_ffill"] is None, r
        else:
            # day sums fold in different orders; round-4 absorbs ~1e-12
            assert r["value_ffill"] == pytest.approx(wv, abs=1e-6), (r, wv)


def test_rolling_distinct_users_matches_set_union(spark, sf_dir):
    """DAU/WAU via contribution-day expansion must equal literal set
    arithmetic: for each observed day, the union of that day's and the
    prior six observed days' user sets."""
    import datetime

    import pandas as pd

    e = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "ts"])
    e["day"] = pd.to_datetime(e.ts).dt.date
    by_day = {day: set(grp.user_id) for day, grp in e.groupby("day")}
    want = {}
    for day, users in by_day.items():
        win = set()
        for k in range(7):
            win |= by_day.get(day - datetime.timedelta(days=k), set())
        want[day] = (len(users), len(win))

    got = {
        r["day"]: (r["dau"], r["wau"])
        for r in QUERIES["rolling_distinct_users"](spark, sf_dir).collect()
    }
    assert got == want


def test_retention_cohorts_matches_pandas(spark, sf_dir):
    """Cohort matrix recomputed with pandas weekday arithmetic (no
    date_trunc, no SQL): cohort = Monday of first-event week, offset =
    whole weeks between event-week Monday and cohort Monday."""
    import datetime

    import pandas as pd

    e = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "ts"])
    ts = pd.to_datetime(e.ts)
    monday = (ts - pd.to_timedelta(ts.dt.weekday, unit="D")).dt.date
    f = pd.DataFrame({"user_id": e.user_id, "week": monday})
    cohort = f.groupby("user_id").week.min()
    want: dict[tuple[datetime.date, int], set] = {}
    for uid, wk in zip(f.user_id, f.week):
        c = cohort[uid]
        key = (c, (wk - c).days // 7)
        want.setdefault(key, set()).add(uid)
    want_counts = {k: len(v) for k, v in want.items()}

    got = {
        (r["cohort"], r["week_offset"]): r["users"]
        for r in QUERIES["retention_cohorts"](spark, sf_dir).collect()
    }
    assert got == want_counts


def test_scd2_intervals_matches_python_collapse(spark, sf_dir):
    """SCD-2 validity intervals recomputed with a per-user python loop:
    sort by (second-truncated ts, event_id), keep state changes, pair
    each change with the next change's timestamp."""
    import pandas as pd

    e = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["event_id", "user_id", "event_type", "ts"]
    )
    e["s"] = pd.to_datetime(e.ts).dt.floor("s")
    want = set()
    for uid, grp in e.groupby("user_id"):
        grp = grp.sort_values(["s", "event_id"])
        changes = []
        prev = None
        for r in grp.itertuples():
            if prev is None or r.event_type != prev:
                changes.append((r.s, r.event_type))
            prev = r.event_type
        for i, (s, et) in enumerate(changes):
            nxt = changes[i + 1][0] if i + 1 < len(changes) else None
            want.add((int(uid), et, s, nxt, nxt is None))

    got = {
        (
            r["user_id"],
            r["event_type"],
            pd.Timestamp(r["valid_from"]),
            pd.Timestamp(r["valid_to"]) if r["valid_to"] is not None else None,
            r["is_current"],
        )
        for r in QUERIES["scd2_intervals"](spark, sf_dir).collect()
    }
    assert got == want


def test_hierarchy_recursive_cte_matches_python_bfs(spark, sf_dir):
    """The WITH RECURSIVE traversal recomputed as a python BFS over
    parent = key // 10 — a child is reachable only through parents that
    EXIST in the table, which is the semantic a closed-form digit-count
    shortcut would silently get wrong on sparse key sets."""
    import pandas as pd

    keys = set(
        pd.read_parquet(f"{sf_dir}/customer.parquet", columns=["c_custkey"])
        .c_custkey.astype(int)
    )
    depth_root: dict[int, tuple[int, int]] = {
        k: (0, k) for k in keys if k <= 9
    }
    frontier = dict(depth_root)
    while frontier:
        nxt = {}
        for k in keys:
            if k >= 10 and k not in depth_root and (k // 10) in frontier:
                d, r = frontier[k // 10]
                nxt[k] = (d + 1, r)
        depth_root.update(nxt)
        frontier = nxt
    agg: dict[int, list] = {}
    for k, (d, r) in depth_root.items():
        n, roots, mn, mx = agg.get(d, (0, set(), k, k))
        agg[d] = (n + 1, roots | {r}, min(mn, k), max(mx, k))
    want = {d: (n, len(roots), mn, mx) for d, (n, roots, mn, mx) in agg.items()}

    got = {
        r["depth"]: (r["n_nodes"], r["n_roots"], r["min_key"], r["max_key"])
        for r in QUERIES["hierarchy_recursive_cte"](spark, sf_dir).collect()
    }
    assert got == want


def test_decontaminate_ngram_matches_python_sets(spark, sf_dir):
    """5-gram decontamination recomputed with python set arithmetic:
    eval grams from doc_id%97==0 docs, a training doc survives iff it
    shares NO gram with that set."""
    import pandas as pd

    d = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "lang", "text"])

    def grams(text):
        tk = text.split(" ")
        return {" ".join(tk[i : i + 5]) for i in range(len(tk) - 4)}

    ev = set()
    for r in d[d.doc_id % 97 == 0].itertuples():
        ev |= grams(r.text)
    want = {
        (int(r.doc_id), r.lang)
        for r in d[d.doc_id % 97 != 0].itertuples()
        if not (grams(r.text) & ev)
    }
    got = {
        (r["doc_id"], r["lang"])
        for r in QUERIES["decontaminate_ngram"](spark, sf_dir).collect()
    }
    assert got == want


def test_funnel_analysis_matches_python_scan(spark, sf_dir):
    """Ordered funnel recomputed per user with a python loop over raw
    timestamps: first view, first strictly-later click, first
    strictly-later purchase."""
    import pandas as pd

    e = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "event_type", "ts"])
    counts = {"1_view": 0, "2_click": 0, "3_purchase": 0}
    for uid, grp in e.groupby("user_id"):
        views = grp[grp.event_type == "view"].ts
        if views.empty:
            continue
        counts["1_view"] += 1
        t_view = views.min()
        clicks = grp[(grp.event_type == "click") & (grp.ts > t_view)].ts
        if clicks.empty:
            continue
        counts["2_click"] += 1
        t_click = clicks.min()
        buys = grp[(grp.event_type == "purchase") & (grp.ts > t_click)].ts
        if not buys.empty:
            counts["3_purchase"] += 1

    got = {
        r["stage"]: r["users"]
        for r in QUERIES["funnel_analysis"](spark, sf_dir).collect()
    }
    assert got == counts


def test_event_transitions_matches_python_pairs(spark, sf_dir):
    """Markov matrix recomputed with per-user sorted python pair
    iteration over (second-truncated ts, event_id) order."""
    import pandas as pd

    e = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "event_id", "event_type", "ts"]
    )
    e["s"] = pd.to_datetime(e.ts).dt.floor("s")
    cnt: dict[tuple[str, str], int] = {}
    for _, grp in e.groupby("user_id"):
        seq = grp.sort_values(["s", "event_id"]).event_type.tolist()
        for a, b in zip(seq, seq[1:]):
            cnt[(a, b)] = cnt.get((a, b), 0) + 1
    tot: dict[str, int] = {}
    for (a, _), c in cnt.items():
        tot[a] = tot.get(a, 0) + c
    # HALF_UP like the engines (python's round is half-even)
    want = {k: (c, _round_half_up(c / tot[k[0]], 6)) for k, c in cnt.items()}

    got = {
        (r["prev_type"], r["next_type"]): (r["cnt"], r["prob"])
        for r in QUERIES["event_transitions"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for k, (c, p) in got.items():
        assert c == want[k][0], (k, c)
        assert abs(p - want[k][1]) < 1e-9, (k, p, want[k][1])


def test_cooccurrence_topk_matches_python_counter(spark, sf_dir):
    """Distance-≤2 co-occurrence top-50 recomputed with a python Counter
    over adjacent and skip-one token pairs, same total order."""
    from collections import Counter

    import pandas as pd

    d = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    c: Counter = Counter()
    for text in d.text:
        tk = text.split(" ")
        for dist in (1, 2):
            for i in range(len(tk) - dist):
                a, b = tk[i], tk[i + dist]
                c[(min(a, b), max(a, b))] += 1
    want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    want = [(wa, wb, n) for (wa, wb), n in want]

    got = [
        (r["wa"], r["wb"], r["cnt"])
        for r in QUERIES["cooccurrence_topk"](spark, sf_dir).collect()
    ]
    assert got == want


def _round_half_up(x: float, places: int) -> float:
    """Spark's F.round and DuckDB's round are HALF_UP; python's built-in
    round is half-even — witnesses must match the engines' convention
    (caught live: round(5/32, 4) differs at the 0.15625 halfway point)."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-places)
    return float(Decimal(str(x)).quantize(q, rounding=ROUND_HALF_UP))


def test_oov_rate_matches_python_counter(spark, sf_dir):
    """OOV rate recomputed with a python Counter vocabulary (top-20 by
    (freq DESC, term)) and per-doc membership counting."""
    from collections import Counter

    import pandas as pd

    d = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    freq: Counter = Counter()
    for text in d.text:
        freq.update(text.split(" "))
    vocab = {t for t, _ in sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:20]}
    want = {}
    for r in d.itertuples():
        tk = r.text.split(" ")
        oov = sum(1 for t in tk if t not in vocab)
        want[int(r.doc_id)] = (len(tk), oov, _round_half_up(oov / len(tk), 4))

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_rate"])
        for r in QUERIES["oov_rate"](spark, sf_dir).collect()
    }
    assert got == want


def test_topic_tag_rules_matches_python_sets(spark, sf_dir):
    """Rule tagging recomputed with python set intersections in fixed
    rule order."""
    import pandas as pd

    rules = [
        ("relational", {"join", "merge", "table"}),
        ("streaming", {"stream", "window", "batch"}),
        ("performance", {"fast", "slow", "scan"}),
        ("storage", {"row", "column", "part"}),
    ]
    d = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    want = {}
    for r in d.itertuples():
        toks = set(r.text.split(" "))
        tags = [name for name, kws in rules if toks & kws]
        want[int(r.doc_id)] = (len(tags), ",".join(tags) if tags else "untagged")

    got = {
        r["doc_id"]: (r["n_tags"], r["tags"])
        for r in QUERIES["topic_tag_rules"](spark, sf_dir).collect()
    }
    assert got == want


def test_group_rare_collapse_matches_python_counter(spark, sf_dir):
    """The relabel mapping recomputed with a Counter and a plain share
    comparison against the 4.5% floor."""
    from collections import Counter

    import pandas as pd

    src = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["source"]).source
    c = Counter(src)
    t = sum(c.values())
    want = {
        s: (n, "__other__" if n / t < 0.045 else s) for s, n in c.items()
    }
    got = {
        r["source"]: (r["n_docs"], r["cat"])
        for r in QUERIES["group_rare_collapse"](spark, sf_dir).collect()
    }
    assert got == want


def test_week_over_week_matches_python_lag(spark, sf_dir):
    """WoW growth recomputed with python Monday-week bucketing, integer
    cents, and an explicit prior-week walk (zero prior -> None)."""
    import datetime

    import pandas as pd

    e = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts", "value"])
    ts = pd.to_datetime(e.ts)
    wk = (ts - pd.to_timedelta(ts.dt.weekday, unit="D")).dt.date
    cents = (e.value * 100).apply(math.floor).astype(int)
    agg: dict[datetime.date, list] = {}
    for w, c in zip(wk, cents):
        cur = agg.get(w, [0, 0])
        agg[w] = [cur[0] + 1, cur[1] + c]
    weeks = sorted(agg)
    want = {}
    for i, w in enumerate(weeks):
        cnt, cts = agg[w]
        if i == 0 or agg[weeks[i - 1]][1] == 0:
            pct = None
        else:
            prev = agg[weeks[i - 1]][1]
            pct = _round_half_up((cts - prev) / prev, 6)
        want[w] = (cnt, cts, pct)

    got = {
        r["wk"]: (r["cnt"], r["cents"], r["wow_pct"])
        for r in QUERIES["week_over_week"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for w, (cnt, cts, pct) in got.items():
        assert (cnt, cts) == want[w][:2], (w, cnt, cts, want[w])
        if want[w][2] is None:
            assert pct is None, (w, pct)
        else:
            assert pct == pytest.approx(want[w][2], abs=2e-6), (w, pct, want[w][2])


def test_vocab_topk_matches_python_counter(spark, sf_dir):
    """Corpus vocabulary top-100 recomputed with python Counters under
    the query's (doc_freq DESC, term_freq DESC, term) total order."""
    from collections import Counter

    import pandas as pd

    d = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    tf: Counter = Counter()
    df: Counter = Counter()
    for r in d.itertuples():
        toks = [t for t in r.text.split(" ") if t != ""]
        tf.update(toks)
        df.update(set(toks))
    want = sorted(
        ((t, df[t], tf[t]) for t in tf),
        key=lambda x: (-x[1], -x[2], x[0]),
    )[:100]
    rows = QUERIES["vocab_topk"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert [(r["term"], r["doc_freq"], r["term_freq"]) for r in rows] == want


_EN_STOP = {"the", "a", "of", "and", "to"}


def test_text_quality_score_matches_python(spark, sf_dir):
    """The composite quality score recomputed row-wise in python with
    the same arithmetic order and HALF_UP rounding — a differential
    check of the whole codegen expression battery."""
    import pandas as pd

    d = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    want = {}
    for r in d.itertuples():
        toks = r.text.split(" ")
        n_chars, n_toks = len(r.text), len(toks)
        hits = sum(1 for t in toks if t in _EN_STOP)
        atl = _round_half_up((n_chars - (n_toks - 1)) / n_toks, 4)
        score = (
            min(n_toks / 100.0, 1.0) * 0.5
            + (hits / n_toks) * 0.3
            + (1.0 / atl) * 0.2
        )
        want[int(r.doc_id)] = (
            n_chars,
            n_toks,
            atl,
            _round_half_up(hits / n_toks, 4),
            _round_half_up(score, 4),
        )

    got = {
        r["doc_id"]: (
            r["n_chars"],
            r["n_tokens"],
            r["avg_tok_len"],
            r["stop_ratio"],
            r["score"],
        )
        for r in QUERIES["text_quality_score"](spark, sf_dir).collect()
    }
    assert got == want


def test_text_lang_id_matches_python(spark, sf_dir):
    """Stopword-hit language ID recomputed with python dicts: per-lang
    frequency hits, argmax with alphabetical tie-break."""
    import pandas as pd

    from movies_etl_spark.operators.text import LANG_STOPWORDS

    d = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    langs = sorted(LANG_STOPWORDS)
    want = {}
    for r in d.itertuples():
        toks = r.text.split(" ")
        hits = {
            lg: sum(1 for t in toks if t in set(LANG_STOPWORDS[lg]))
            for lg in langs
        }
        m = max(hits.values())
        pred = next(lg for lg in langs if hits[lg] == m)
        want[int(r.doc_id)] = (*[hits[lg] for lg in langs], pred)

    got = {
        r["doc_id"]: tuple(r[f"h_{lg}"] for lg in langs) + (r["lang_pred"],)
        for r in QUERIES["text_lang_id"](spark, sf_dir).collect()
    }
    assert got == want


def test_text_repetition_ratio_matches_python(spark, sf_dir):
    """Gopher repetition signals recomputed with python sets over tokens
    and adjacent 2-grams."""
    import pandas as pd

    d = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    want = {}
    for r in d.itertuples():
        tk = r.text.split(" ")
        g2 = [f"{a} {b}" for a, b in zip(tk, tk[1:])]
        dup_tok = (
            _round_half_up(1.0 - len(set(tk)) / len(tk), 4) if tk else 0.0
        )
        dup_g2 = (
            _round_half_up(1.0 - len(set(g2)) / len(g2), 4) if g2 else 0.0
        )
        want[int(r.doc_id)] = (len(tk), dup_tok, dup_g2)

    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_token_frac"], r["dup_2gram_frac"])
        for r in QUERIES["text_repetition_ratio"](spark, sf_dir).collect()
    }
    assert got == want


def test_gopher_flags_match_python(spark, sf_dir):
    """The Gopher rule battery recomputed row-wise in python — including
    the DISTINCT-stopword-hit semantics of array_intersect (frequency
    counting here would be a shared-formulation bug this witness exists
    to catch)."""
    import re as _re

    import pandas as pd

    d = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    want = {}
    for r in d.itertuples():
        tk = r.text.split(" ")
        n = len(tk)
        mean_wl = _round_half_up((len(r.text) - (n - 1)) / n, 4)
        hashes = len(r.text) - len(r.text.replace("#", ""))
        dots = (len(r.text) - len(r.text.replace("...", ""))) / 3
        sym = _round_half_up((hashes + dots) / n, 4)
        alpha = _round_half_up(
            sum(1 for t in tk if _re.search("[a-z]", t)) / n, 4
        )
        stops = len(set(tk) & _EN_STOP)
        passes = (
            50 <= n <= 100000
            and 3 <= mean_wl <= 10
            and sym < 0.1
            and alpha > 0.8
            and stops >= 2
        )
        want[int(r.doc_id)] = (n, mean_wl, sym, alpha, stops, passes)

    got = {
        r["doc_id"]: (
            r["n_words"],
            r["mean_word_len"],
            r["symbol_ratio"],
            r["alpha_frac"],
            r["stop_hits"],
            r["passes"],
        )
        for r in QUERIES["gopher_quality_flags"](spark, sf_dir).collect()
    }
    assert got == want


def test_pii_redact_matches_python_re(spark, sf_dir):
    """Redaction recomputed with python re over the same synthesized
    spans — Java regex vs python re as the differential pair."""
    import re as _re

    import pandas as pd

    email = _re.compile(r"[a-z0-9]+@[a-z]+\.[a-z]+")
    phone = _re.compile(r"\d{3}-\d{4}")
    d = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    want = {}
    for r in d.itertuples():
        did = int(r.doc_id)
        if did % 3 == 0:
            raw = f"{r.text} contact user{did}@example.com now"
        elif did % 3 == 1:
            raw = f"{r.text} call 555-{1000 + did % 9000} today"
        else:
            raw = r.text
        clean = phone.sub("[PHONE]", email.sub("[EMAIL]", raw))
        want[did] = (clean, len(email.findall(raw)) + len(phone.findall(raw)))

    got = {
        r["doc_id"]: (r["clean"], r["n_pii"])
        for r in QUERIES["pii_redact"](spark, sf_dir).collect()
    }
    assert got == want


def test_embedding_quantize_matches_numpy(spark, sf_dir):
    """int8 symmetric quantization recomputed with numpy float64
    arithmetic: scale = max|v|/127, level = floor(v/scale + 0.5)."""
    import numpy as np
    import pandas as pd

    e = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    want = {}
    for r in e.itertuples():
        v = np.asarray(r.embedding, dtype=np.float64)
        scale = float(np.abs(v).max()) / 127.0
        if scale == 0:
            q = [0] * len(v)
        else:
            q = [int(math.floor(x / scale + 0.5)) for x in v]
        want[int(r.vec_id)] = (
            _round_half_up(scale, 4),
            ",".join(str(x) for x in q),
        )

    got = {
        r["vec_id"]: (r["scale_r"], r["q_str"])
        for r in QUERIES["embedding_quantize"](spark, sf_dir).collect()
    }
    assert got == want


def test_embedding_dim_stats_match_python_fold(spark, sf_dir):
    """Per-dimension stats recomputed with an explicit vec_id-ordered
    left fold (plain python loop — no numpy pairwise summation, which
    would NOT reproduce the fold order)."""
    import pandas as pd

    e = pd.read_parquet(f"{sf_dir}/embeddings.parquet").sort_values("vec_id")
    dims: dict[int, list[float]] = {}
    for r in e.itertuples():
        for i, x in enumerate(r.embedding, start=1):
            dims.setdefault(i, []).append(float(x))
    want = {}
    for dim, vals in dims.items():
        n = len(vals)
        s = 0.0
        ss = 0.0
        for x in vals:
            s += x
        for x in vals:
            ss += x * x
        std = math.sqrt((ss - s * s / n) / (n - 1))
        want[dim] = (
            n,
            _round_half_up(s / n, 4),
            _round_half_up(std, 4),
            _round_half_up(min(vals), 4),
            _round_half_up(max(vals), 4),
        )

    got = {
        r["dim"]: (r["n"], r["mean"], r["std"], r["vmin"], r["vmax"])
        for r in QUERIES["embedding_dim_stats"](spark, sf_dir).collect()
    }
    assert got == want


def test_ngram_jaccard_matches_python_sets(spark, sf_dir):
    """Blocked n-gram Jaccard recomputed with python set arithmetic over
    brute-forced (lang, n_chars) blocks."""
    import hashlib

    import pandas as pd

    from movies_etl_spark.operators.dedup import (
        MINHASH_P,
        SHINGLE_C1,
        SHINGLE_C2,
    )

    d = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "lang", "n_chars", "text"]
    )

    def shingles(text):
        th = [
            int(hashlib.md5(t.encode()).hexdigest()[:12], 16) % MINHASH_P
            for t in text.split(" ")
        ]
        if len(th) < 3:
            return set()
        return {
            (th[i] * SHINGLE_C1 + th[i + 1] * SHINGLE_C2 + th[i + 2]) % MINHASH_P
            for i in range(len(th) - 2)
        }

    sh = {int(r.doc_id): shingles(r.text) for r in d.itertuples()}
    want = {}
    for (_, _), grp in d.groupby(["lang", "n_chars"]):
        ids = sorted(int(x) for x in grp.doc_id)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                if sh[a] and sh[b]:
                    j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
                    want[(a, b)] = _round_half_up(j, 4)

    got = {
        (r["id_a"], r["id_b"]): r["jac"]
        for r in QUERIES["dedup_ngram_jaccard"](spark, sf_dir).collect()
    }
    assert got == want


def test_session_paths_matches_python_walk(spark, sf_dir):
    """Top user journeys recomputed with a per-user python walk: 30-min
    gap sessionization over (second-truncated ts, event_id) order, '>'
    joined paths, Counter + the (count DESC, path) cut."""
    from collections import Counter

    import pandas as pd

    e = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "event_id", "event_type", "ts"]
    )
    e["s"] = pd.to_datetime(e.ts).dt.floor("s")
    c: Counter = Counter()
    for _, grp in e.groupby("user_id"):
        grp = grp.sort_values(["s", "event_id"])
        path: list[str] = []
        prev = None
        for r in grp.itertuples():
            if prev is not None and (r.s - prev).total_seconds() > 1800:
                c[">".join(path)] += 1
                path = []
            path.append(r.event_type)
            prev = r.s
        if path:
            c[">".join(path)] += 1
    want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:20]

    got = [
        (r["path"], r["n_sessions"])
        for r in QUERIES["session_paths"](spark, sf_dir).collect()
    ]
    assert got == want


def test_rollup_cascade_matches_python_dicts(spark, sf_dir):
    """The hourly→daily→monthly cascade recomputed with one flat python
    pass straight from raw events to months — if any cascade level
    dropped or double-counted partials, the flat recompute would
    diverge."""
    import pandas as pd

    e = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts", "value"])
    ts = pd.to_datetime(e.ts).dt.floor("s")
    month = ts.dt.to_period("M").dt.to_timestamp().dt.date
    cents = (e.value * 100).apply(math.floor).astype(int)
    agg: dict = {}
    days: dict = {}
    for m, d, c in zip(month, ts.dt.date, cents):
        cnt, s = agg.get(m, (0, 0))
        agg[m] = (cnt + 1, s + c)
        days.setdefault(m, set()).add(d)
    want = {m: (cnt, s, len(days[m])) for m, (cnt, s) in agg.items()}

    got = {
        r["month"]: (r["cnt"], r["sum_cents"], r["n_days"])
        for r in QUERIES["rollup_cascade"](spark, sf_dir).collect()
    }
    assert got == want


def test_snapshot_diff_matches_python_dicts(spark, sf_dir):
    """The full-outer churn diff recomputed with two python dicts and
    set arithmetic."""
    import pandas as pd

    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_totalprice"])
    a = {int(r.o_orderkey): float(r.o_totalprice) for r in o.itertuples() if r.o_orderkey % 10 != 0}
    b = {
        int(r.o_orderkey): (
            float(r.o_totalprice) + 10.0 if r.o_orderkey % 7 == 0 else float(r.o_totalprice)
        )
        for r in o.itertuples()
        if r.o_orderkey % 10 != 3
    }
    want = {}
    for k in a.keys() | b.keys():
        if k not in b:
            want[k] = ("removed", a[k], None)
        elif k not in a:
            want[k] = ("added", None, b[k])
        elif a[k] != b[k]:
            want[k] = ("changed", a[k], b[k])

    got = {
        r["o_orderkey"]: (r["status"], r["old_price"], r["new_price"])
        for r in QUERIES["snapshot_diff"](spark, sf_dir).collect()
    }
    assert got == want


def test_simhash_pairs_match_bruteforce_hamming(spark, sf_dir):
    """The nibble-banded SimHash pair query against a brute-force
    ALL-PAIRS numpy Hamming scan (no banding at all): the pigeonhole
    claim — any pair within Hamming ≤ 2 of a 16-bit fingerprint shares
    at least one intact nibble — makes banding EXHAUSTIVE, so the two
    formulations must produce the identical pair set. A banding bug that
    silently dropped reachable pairs would be invisible to the replay
    oracle and caught here."""
    import hashlib

    import numpy as np
    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    corpus = {int(r.doc_id): r.text for r in docs.itertuples()}
    for r in docs.itertuples():
        toks = r.text.split(" ")
        if int(r.doc_id) % 50 == 0 and len(toks) >= 20:
            corpus[int(r.doc_id) + 1000000] = " ".join(toks[: len(toks) - 10])

    def tok_hash(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:12], 16)

    def simhash16(text):
        hs = [tok_hash(t) for t in text.split(" ")]
        out = 0
        for j in range(16):
            s = sum(((h >> j) & 1) * 2 - 1 for h in hs)
            if s > 0:
                out += 1 << j
        return out

    ids = np.array(sorted(corpus))
    sh = np.array([simhash16(corpus[i]) for i in ids], dtype=np.int64)
    pop = np.array([bin(x).count("1") for x in range(1 << 16)], dtype=np.int8)
    ham = pop[np.bitwise_xor.outer(sh, sh)]
    iu, ju = np.triu_indices(len(ids), k=1)
    sel = ham[iu, ju] <= 2
    want = {
        (int(ids[a]), int(ids[b])): int(ham[a, b])
        for a, b in zip(iu[sel], ju[sel])
    }

    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in QUERIES["dedup_simhash_pairs"](spark, sf_dir).collect()
    }
    assert got == want


def test_upsert_merge_matches_pandas_merge(spark, sf_dir):
    """The partitioned-lake MERGE (anti-join + dynamic partition
    overwrite + read-back) recomputed as a plain pandas merge straight
    from orders — a partition accidentally dropped or doubled by the
    overwrite machinery would break the per-year reconciliation."""
    import pandas as pd

    o = pd.read_parquet(
        f"{sf_dir}/orders.parquet",
        columns=["o_orderkey", "o_totalprice", "o_orderstatus", "o_orderdate"],
    )
    o["order_year"] = pd.to_datetime(o.o_orderdate).dt.year
    base = o[o.o_orderkey % 13 != 0][
        ["o_orderkey", "o_totalprice", "o_orderstatus", "order_year"]
    ]
    upd = o[o.o_orderkey % 13 == 0].assign(
        o_totalprice=lambda d: (d.o_totalprice + 10.0).round(2),
        o_orderstatus="U",
    )[["o_orderkey", "o_totalprice", "o_orderstatus", "order_year"]]
    ins = o[o.o_orderkey % 997 == 0].assign(
        o_orderkey=lambda d: d.o_orderkey + 100000000,
        o_totalprice=lambda d: d.o_totalprice.round(2),
        o_orderstatus="N",
    )[["o_orderkey", "o_totalprice", "o_orderstatus", "order_year"]]
    merged = pd.concat([base, upd, ins])
    want = {}
    for y, grp in merged.groupby("order_year"):
        want[int(y)] = (
            len(grp),
            int((grp.o_orderstatus == "U").sum()),
            int((grp.o_orderstatus == "N").sum()),
            float(grp.o_totalprice.sum()),
        )

    got = {
        r["order_year"]: (r["n_rows"], r["n_updated"], r["n_inserted"], r["total_price"])
        for r in QUERIES["upsert_merge"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for y, (n, nu, ni, tp) in got.items():
        assert (n, nu, ni) == want[y][:3], (y, got[y], want[y])
        # float sum order differs; round-2 output vs pandas sum
        assert abs(tp - want[y][3]) < 0.02, (y, tp, want[y][3])


def test_hll_sketch_matches_independent_python_hll(spark, sf_dir):
    """Portable-HLL witness with a STRUCTURALLY different implementation:
    hashlib md5 + int.bit_length() registers in plain python (no SQL, no
    bin()-string arithmetic). The register tables must match EXACTLY
    (proving the hash/register/rho pipeline), the merged estimate must
    match to the output rounding, and every estimate must sit within 3
    standard errors (3 · 1.04/√512 ≈ 14%) of the exact distinct count
    computed by pandas nunique."""
    import hashlib
    import math

    import pandas as pd

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey"])
    li["shard"] = li.l_orderkey % 8

    def registers(keys):
        regs: dict[int, int] = {}
        for k in set(int(x) for x in keys):
            h = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
            reg, rest = h >> 51, h & ((1 << 51) - 1)
            rho = 52 - rest.bit_length() if rest else 52
            regs[reg] = max(regs.get(reg, 0), rho)
        return regs

    def estimate(regs):
        m, alpha = 512, 0.7213 / (1.0 + 1.079 / 512)
        s = sum(1 << (52 - r) for r in regs.values()) + (m - len(regs)) * (1 << 52)
        e_raw = alpha * m * m / (s / float(1 << 52))
        v = m - len(regs)
        if e_raw <= 2.5 * m and v > 0:
            return m * math.log(m / float(v))
        return e_raw

    got = {r["scope"]: (r["est_distinct"], r["exact_distinct"])
           for r in QUERIES["hll_distinct_shards"](spark, sf_dir).collect()}
    assert set(got) == {str(s) for s in range(8)} | {"merged"}

    # exact counts vs pandas nunique
    exact_all = li.l_partkey.nunique()
    assert got["merged"][1] == exact_all
    for s, grp in li.groupby("shard"):
        assert got[str(s)][1] == grp.l_partkey.nunique()

    # merged estimate vs the independent python HLL (one rounding step
    # of slack: ln() may differ by an ulp between libm and the JVM)
    merged_regs = registers(li.l_partkey)
    assert abs(got["merged"][0] - estimate(merged_regs)) <= 0.011

    # mergeability is exact: max-of-shard-registers == whole-input table
    shard_regs: dict[int, int] = {}
    for _, grp in li.groupby("shard"):
        for reg, rho in registers(grp.l_partkey).items():
            shard_regs[reg] = max(shard_regs.get(reg, 0), rho)
    assert shard_regs == merged_regs

    # every estimate within 3 standard errors of its exact count
    for scope, (est, exact) in got.items():
        assert abs(est - exact) / exact <= 3 * 1.04 / math.sqrt(512), (scope, est, exact)


def test_cms_matches_independent_python_cms(spark, sf_dir):
    """Count-min witness with an independent hashlib/Counter
    implementation: cell tables and point estimates must match EXACTLY
    (all-integer arithmetic), estimates must never undercount (the CMS
    one-sided guarantee), and overestimates must stay under the e·N/w
    Markov bound (deterministic data + hashes ⇒ a stable assertion, not
    a probabilistic flake)."""
    import hashlib
    import math
    from collections import Counter

    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    exact: Counter = Counter()
    cells: Counter = Counter()  # (seed, cell) -> count

    def cell(seed, key):
        return int(hashlib.md5(f"{seed}:{key}".encode()).hexdigest()[:12], 16) % 1024

    n_total = 0
    for _, row in docs.iterrows():
        toks = row.text.split(" ")
        if len(toks) < 2:
            continue
        for a, b in zip(toks, toks[1:]):
            k = f"{a} {b}"
            exact[k] += 1
            n_total += 1
            for s in range(4):
                cells[(s, cell(s, k))] += 1

    cands = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = {r["bigram"]: (r["exact_cnt"], r["cms_est"], r["overest"])
           for r in QUERIES["heavy_hitters_cms"](spark, sf_dir).collect()}
    assert set(got) == {k for k, _ in cands}

    bound = math.e * n_total / 1024
    for k, cnt in cands:
        py_est = min(cells[(s, cell(s, k))] for s in range(4))
        g_exact, g_est, g_over = got[k]
        assert g_exact == cnt, (k, g_exact, cnt)
        assert g_est == py_est, (k, g_est, py_est)  # integer-exact replay
        assert g_est >= g_exact  # CMS never undercounts
        assert g_over == g_est - g_exact
        assert g_over <= bound, (k, g_over, bound)


def test_semdedup_matches_independent_numpy(spark, sf_dir):
    """SemDeDup witness: numpy recompute of the full chain — Lloyd's
    k-means (same quantization points as the kmeans witness), pairwise
    cosine WITHIN cells only, drop-the-closer-to-centroid rule — and the
    dropped set must match exactly."""
    import numpy as np
    import pandas as pd

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    emb = emb.sort_values("vec_id").reset_index(drop=True)
    V = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    ids = emb.vec_id.to_numpy()
    cents = {int(i): V[ids == i][0] for i in range(4)}

    def assign(cmap):
        out = {}
        for i, vid in enumerate(ids):
            best = min(
                cmap.items(),
                key=lambda kv: (round(float(((V[i] - kv[1]) ** 2).sum()), 6), kv[0]),
            )
            out[int(vid)] = (best[0], round(float(((V[i] - best[1]) ** 2).sum()), 6))
        return out

    a1 = assign(cents)
    newc = {}
    for c in sorted({v[0] for v in a1.values()}):
        members = V[[a1[int(v)][0] == c for v in ids]]
        newc[c] = np.round(members.mean(axis=0), 6)
    a2 = assign(newc)
    d2r = {vid: _round_half_up(d2, 4) for vid, (c, d2) in a2.items()}

    idx = {int(v): i for i, v in enumerate(ids)}
    nrm = np.sqrt((V * V).sum(axis=1))
    victims = set()
    vids = sorted(idx)
    for i, va in enumerate(vids):
        for vb in vids[i + 1:]:
            if a2[va][0] != a2[vb][0]:
                continue
            cos = float(V[idx[va]] @ V[idx[vb]] / (nrm[idx[va]] * nrm[idx[vb]]))
            if _round_half_up(cos, 6) >= 0.4:
                victims.add(va if d2r[va] < d2r[vb] else vb)

    rows = QUERIES["dedup_semantic_clusters"](spark, sf_dir).collect()
    assert len(rows) == len(ids)
    got_dropped = {r["vec_id"] for r in rows if r["dropped"]}
    got_cells = {r["vec_id"]: r["cell"] for r in rows}
    assert got_cells == {v: a2[v][0] for v in vids}
    assert got_dropped == victims


def test_bpe_train_matches_independent_python_trainer(spark, sf_dir):
    """BPE witness: re-train with a plain-python Counter + explicit
    leftmost-non-overlapping list walk (no replace-string trick, no
    SQL) — the full merge table must match exactly."""
    from collections import Counter

    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    wc: Counter = Counter()
    for t in docs.text:
        for w in t.split(" "):
            if w:
                wc[w] += 1
    words: dict = {}
    for w, f in wc.items():
        words[tuple(list(w) + ["</w>"])] = words.get(tuple(list(w) + ["</w>"]), 0) + f

    def merge_word(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return tuple(out)

    want = []
    for step in range(1, 9):
        pc: Counter = Counter()
        for syms, f in words.items():
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += f
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((step, a, b, cnt))
        nxt: dict = {}
        for syms, f in words.items():
            m = merge_word(syms, a, b)
            nxt[m] = nxt.get(m, 0) + f
        words = nxt

    got = [
        (r["step"], r["sym_a"], r["sym_b"], r["pair_cnt"])
        for r in QUERIES["bpe_train_merges"](spark, sf_dir)
        .orderBy("step")
        .collect()
    ]
    assert got == want

    # the APPLY stage: top-30 subword usage from the python-encoded
    # vocab must match bpe_subword_stats exactly
    sub: Counter = Counter()
    for syms, f in words.items():
        for s in syms:
            sub[s] += f
    want_sub = sorted(sub.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
    got_sub = [
        (r["subword"], r["n_occurrences"])
        for r in QUERIES["bpe_subword_stats"](spark, sf_dir).collect()
    ]
    assert got_sub == want_sub


def test_streaming_hll_distinct_within_bounds_of_exact(spark, sf_dir):
    """Streaming-HLL witness: exact per-day distinct users recomputed
    with pandas nunique (no Spark, no SQL, no sketch); every streamed
    estimate must land within 3 standard errors (3·1.04/√512 ≈ 14%) of
    the exact count, and the day coverage must match exactly."""
    import math

    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts", "user_id"])
    days = pd.to_datetime(ev.ts).dt.date
    exact = ev.groupby(days).user_id.nunique()

    got = {
        r["day"]: r["est_distinct"]
        for r in QUERIES["streaming_hll_distinct"](spark, sf_dir).collect()
    }
    assert set(got) == set(exact.index)
    tol = 3 * 1.04 / math.sqrt(512)
    for day, est in got.items():
        ex = exact[day]
        assert abs(est - ex) / ex <= tol, (day, est, ex)


def test_feature_hash_matches_independent_python(spark, sf_dir):
    """Hashing-trick witness: recompute the signed bucket sums and the
    L2 normalization with hashlib + a plain dict — every sparse entry
    must match (integer weights exactly, normalized weights to the
    output rounding)."""
    import hashlib
    import math

    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    docs = docs[docs.doc_id < 50]
    want: dict = {}
    for _, row in docs.iterrows():
        buckets: dict = {}
        for t in row.text.split(" "):
            if not t:
                continue
            hv = int(hashlib.md5(f"fh:{t}".encode()).hexdigest()[:12], 16)
            s = 1 if (hv >> 20) & 1 else -1
            buckets[hv % 256] = buckets.get(hv % 256, 0) + s
        nz = {d: w for d, w in buckets.items() if w != 0}
        nrm = math.sqrt(sum(w * w for w in nz.values()))
        for d, w in nz.items():
            want[(int(row.doc_id), d)] = (w, _round_half_up(w / nrm, 6))

    got = {
        (r["doc_id"], r["dim"]): (r["w"], r["w_l2"])
        for r in QUERIES["feature_hash_vectorize"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for key, (w, wl2) in got.items():
        assert w == want[key][0], (key, w, want[key])
        assert abs(wl2 - want[key][1]) <= 1e-6, (key, wl2, want[key])


def test_data_quality_gate_matches_pandas_battery(spark, sf_dir):
    """Quality-gate witness: recompute every expectation with pandas
    set/filter logic — observed violation counts and pass verdicts must
    match, including the deliberately failing price-cap check."""
    import pandas as pd

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey"])
    want = {
        "not_null:o_orderkey": int(o.o_orderkey.isna().sum()),
        "unique:o_orderkey": int(len(o) - o.o_orderkey.nunique()),
        "range:o_totalprice>0": int((o.o_totalprice <= 0).sum()),
        "accepted_values:o_orderstatus": int(
            (~o.o_orderstatus.isin(["F", "O", "P"])).sum()
        ),
        "range:o_totalprice<=400000": int((o.o_totalprice > 400000).sum()),
        "fk:lineitem.l_orderkey->orders": int(
            (~li.l_orderkey.isin(set(o.o_orderkey))).sum()
        ),
    }
    got = {
        r["check_name"]: (r["observed"], r["passed"])
        for r in QUERIES["data_quality_gate"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for name, obs in want.items():
        assert got[name] == (obs, obs == 0), (name, got[name], obs)
    # the gate must be able to FAIL: at sf0.01 the price cap trips; at
    # other SFs just assert verdict consistency (checked above)


def test_bpe_pack_matches_independent_python(spark, sf_dir):
    """Tokenize-then-pack witness: python re-trains the BPE (same
    trainer as the merges witness), encodes each word by the explicit
    list walk, counts per-doc subwords, and replays the concat-and-chunk
    layout with a plain running total — every doc's sequence span and
    offset must match."""
    import hashlib
    from collections import Counter

    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    wc: Counter = Counter()
    for t in docs.text:
        for w in t.split(" "):
            if w:
                wc[w] += 1
    words = {w: tuple(list(w) + ["</w>"]) for w in wc}

    def merge_word(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return tuple(out)

    for _ in range(8):
        pc: Counter = Counter()
        for w, syms in words.items():
            f = wc[w]
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += f
        if not pc:
            break
        (a, b), _cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        words = {w: merge_word(syms, a, b) for w, syms in words.items()}

    nsub = {w: len(syms) for w, syms in words.items()}
    doc_n = {}
    for _, row in docs.iterrows():
        n = sum(nsub[w] for w in row.text.split(" ") if w)
        # the query's per-doc count rides an INNER join on non-empty
        # words, so a zero-token doc yields no output row — skip it here
        # too instead of fabricating a nonsense span (ADVICE r5)
        if n > 0:
            doc_n[int(row.doc_id)] = n

    def shard(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:12], 16) % 8

    order = sorted(
        doc_n,
        key=lambda d: (shard(d), hashlib.md5(str(d).encode()).hexdigest(), d),
    )
    want = {}
    cum = 0
    for d in order:
        n = doc_n[d]
        want[d] = (n, cum // 512, (cum + n - 1) // 512, cum % 512)
        cum += n

    got = {
        r["doc_id"]: (
            r["n_subwords"], r["seq_first"], r["seq_last"], r["bin_offset"]
        )
        for r in QUERIES["bpe_pack_pipeline"](spark, sf_dir).collect()
    }
    assert got == want


def test_aqp_estimates_cover_exact_within_3_stderr(spark, sf_dir):
    """AQP witness: the exact group means (recomputed with pandas, not
    the query's own exact column) must sit inside est ± 3·stderr for
    every group, and the sample must be the deterministic hash rows
    (recomputed with hashlib)."""
    import hashlib

    import pandas as pd

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"],
    )

    def in_sample(r):
        key = f"{r.l_orderkey}-{r.l_linenumber}"
        return int(hashlib.md5(key.encode()).hexdigest()[:12], 16) % 10 == 0

    mask = li.apply(in_sample, axis=1)
    got = {
        r["l_returnflag"]: r
        for r in QUERIES["aqp_sampled_groupby"](spark, sf_dir).collect()
    }
    for flag, grp in li.groupby("l_returnflag"):
        row = got[flag]
        # sample membership is the deterministic hash set
        assert row["n_sample"] == int(mask[li.l_returnflag == flag].sum())
        exact = grp.l_quantity.mean()
        assert abs(row["exact_avg_qty"] - exact) < 5e-4
        assert abs(row["est_avg_qty"] - exact) <= 3 * row["stderr"], (flag, row, exact)


def test_semdedup_incremental_matches_independent_numpy(spark, sf_dir):
    """Incremental-SemDeDup witness: numpy re-runs the chain with the
    frozen quantizer (Lloyd's trained on the base only, batch assigned
    to the final centroids) and the two-part gate (drop a new doc
    near-duplicating existing content outright; keep-the-atypical among
    batch pairs) — the delta's verdicts must match exactly."""
    import numpy as np
    import pandas as pd

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    emb = emb.sort_values("vec_id").reset_index(drop=True)
    V = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    ids = emb.vec_id.to_numpy()
    cut = 450
    base_mask = ids < cut
    cents = {int(i): V[ids == i][0] for i in range(4)}

    def assign(cmap, sel):
        out = {}
        for i, vid in enumerate(ids):
            if not sel[i]:
                continue
            best = min(
                cmap.items(),
                key=lambda kv: (round(float(((V[i] - kv[1]) ** 2).sum()), 6), kv[0]),
            )
            out[int(vid)] = (best[0], round(float(((V[i] - best[1]) ** 2).sum()), 6))
        return out

    a1 = assign(cents, base_mask)
    newc = {}
    for c in sorted({v[0] for v in a1.values()}):
        members = V[[base_mask[i] and a1[int(v)][0] == c for i, v in enumerate(ids)]]
        newc[c] = np.round(members.mean(axis=0), 6)
    # final training pass is on the base; the batch assigns to newc too
    a2 = assign(newc, np.ones_like(base_mask, dtype=bool))
    d2r = {vid: _round_half_up(d2, 4) for vid, (c, d2) in a2.items()}

    idx = {int(v): i for i, v in enumerate(ids)}
    nrm = np.sqrt((V * V).sum(axis=1))
    victims = set()
    delta = sorted(int(v) for v in ids if v >= cut)
    allv = sorted(idx)
    for da in delta:
        for ob in allv:
            if ob == da or a2[da][0] != a2[ob][0]:
                continue
            if ob >= cut and not (da < ob):
                continue  # batch pairs counted once (id_a < id_b)
            cos = float(V[idx[da]] @ V[idx[ob]] / (nrm[idx[da]] * nrm[idx[ob]]))
            if _round_half_up(cos, 6) < 0.4:
                continue
            if ob < cut:
                victims.add(da)  # corpus is immutable; the newcomer drops
            else:
                victims.add(da if d2r[da] < d2r[ob] else ob)

    rows = QUERIES["dedup_semantic_incremental"](spark, sf_dir).collect()
    assert len(rows) == len(delta)
    got_dropped = {r["vec_id"] for r in rows if r["dropped"]}
    got_cells = {r["vec_id"]: r["cell"] for r in rows}
    assert got_cells == {v: a2[v][0] for v in delta}
    assert got_dropped == victims


def test_llm_corpus_pipeline_matches_independent_python(spark, sf_dir):
    """End-to-end composite witness: plain python/numpy re-runs the
    ENTIRE chain — corpus planting, quality gate, content-hash exact
    dedup, MinHash-LSH banding + Jaccard verification with the
    drop-the-larger-id rule, frozen-quantizer SemDeDup, eval removal +
    5-gram decontamination, Counter-based BPE training, list-walk
    encoding, and the concat-and-chunk packing — and the final manifest
    must match the query row-for-row. Additionally asserts every planted
    family dies at ITS stage (exact copies at exact dedup, truncations
    at MinHash, contaminated plants at decontamination), so no stage is
    vacuously green."""
    import hashlib
    import itertools

    import numpy as np
    import pandas as pd

    from movies_etl_spark.operators.dedup import (
        MINHASH_P,
        MINHASH_SEEDS,
        N_BANDS,
        N_MINHASH,
        SHINGLE_C1,
        SHINGLE_C2,
    )
    from movies_etl_spark.plans.queries_scale import SEMDEDUP_TAU

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    base = {int(r.doc_id): r.text for r in docs.itertuples()}
    corpus = dict(base)
    for d, t in base.items():
        toks = t.split(" ")
        if d % 50 == 0 and len(toks) >= 20:
            corpus[d + 1000000] = " ".join(toks[: len(toks) - 10])
    for d, t in base.items():
        if d % 73 == 0:
            corpus[d + 2000000] = t
    for d, t in base.items():
        toks = t.split(" ")
        if d % 83 == 0 and len(toks) >= 10:
            ev_id = 97 * ((d // 83) % 6)
            # mirror the query/oracle inner-join semantics: a missing
            # eval doc silently drops the plant, it doesn't error
            if ev_id in base:
                corpus[d + 3000000] = (
                    " ".join(toks[:10]) + " " + " ".join(base[ev_id].split(" ")[:5])
                )

    # 1. quality gate
    def dup_frac(toks):
        return round(1.0 - len(set(toks)) / len(toks), 4) if toks else 0.0

    qual = {
        d: t
        for d, t in corpus.items()
        if len(t.split(" ")) >= 10 and dup_frac(t.split(" ")) <= 0.5
    }

    # 2. exact dedup: keep the smallest doc_id per content hash
    first_by_hash: dict = {}
    for d in sorted(qual):
        first_by_hash.setdefault(hashlib.md5(qual[d].encode()).hexdigest(), d)
    ex = {d: qual[d] for d in first_by_hash.values()}
    exact_casualties = set(qual) - set(ex)
    assert any(d >= 2000000 for d in exact_casualties), "exact stage vacuous"

    # 3. MinHash-LSH near-dedup: drop the larger id of each verified pair
    def shingles(text):
        th = [
            int(hashlib.md5(t.encode()).hexdigest()[:12], 16) % MINHASH_P
            for t in text.split(" ")
        ]
        return (
            [
                (th[i] * SHINGLE_C1 + th[i + 1] * SHINGLE_C2 + th[i + 2])
                % MINHASH_P
                for i in range(len(th) - 2)
            ]
            if len(th) >= 3
            else []
        )

    sh = {d: shingles(t) for d, t in ex.items()}
    bands: dict = {}
    for d, s in sh.items():
        if not s:
            continue
        sig = [
            min((a * h + b) % MINHASH_P for h in s)
            for a, b in MINHASH_SEEDS[:N_MINHASH]
        ]
        for bi in range(N_BANDS):
            bands.setdefault((bi, f"{sig[2 * bi]}|{sig[2 * bi + 1]}"), []).append(d)
    mh_drops = set()
    for members in bands.values():
        for a, b in itertools.combinations(sorted(members), 2):
            sa, sb = set(sh[a]), set(sh[b])
            if sa and sb and round(len(sa & sb) / len(sa | sb), 4) >= 0.5:
                mh_drops.add(b)
    mh = {d: t for d, t in ex.items() if d not in mh_drops}
    assert mh_drops, "minhash stage vacuous"

    # 4. SemDeDup with the frozen quantizer (same numpy kmeans as the
    #    standalone SemDeDup witness, trained on the FULL table)
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet").sort_values(
        "vec_id"
    ).reset_index(drop=True)
    V = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    ids = emb.vec_id.to_numpy()
    cents = {int(i): V[ids == i][0] for i in range(4)}

    def assign(cmap):
        out = {}
        for i, vid in enumerate(ids):
            best = min(
                cmap.items(),
                key=lambda kv: (round(float(((V[i] - kv[1]) ** 2).sum()), 6), kv[0]),
            )
            out[int(vid)] = (best[0], round(float(((V[i] - best[1]) ** 2).sum()), 6))
        return out

    a1 = assign(cents)
    newc = {}
    for c in sorted({v[0] for v in a1.values()}):
        members = V[[a1[int(v)][0] == c for v in ids]]
        newc[c] = np.round(members.mean(axis=0), 6)
    a2 = assign(newc)
    d2r = {vid: _round_half_up(d2, 4) for vid, (c, d2) in a2.items()}
    idx = {int(v): i for i, v in enumerate(ids)}
    nrm = np.sqrt((V * V).sum(axis=1))
    sem_members = sorted(d for d in mh if d in idx)
    sem_victims = set()
    for i, va in enumerate(sem_members):
        for vb in sem_members[i + 1:]:
            if a2[va][0] != a2[vb][0]:
                continue
            cos = float(V[idx[va]] @ V[idx[vb]] / (nrm[idx[va]] * nrm[idx[vb]]))
            if _round_half_up(cos, 6) >= SEMDEDUP_TAU:
                sem_victims.add(va if d2r[va] < d2r[vb] else vb)
    sem = {d: t for d, t in mh.items() if d not in sem_victims}
    assert sem_victims, "semdedup stage vacuous"

    # 5. eval removal + 5-gram decontamination
    def grams5(text):
        toks = text.split(" ")
        return (
            {" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)}
            if len(toks) >= 5
            else set()
        )

    ev_ids = {d for d in base if d % 97 == 0}
    ev = set().union(*(grams5(base[d]) for d in ev_ids))
    clean = {
        d: t
        for d, t in sem.items()
        if d not in ev_ids and not (grams5(t) & ev)
    }
    decon_drops = {d for d in sem if d not in ev_ids and (grams5(sem[d]) & ev)}
    assert any(d >= 3000000 for d in decon_drops), "decontamination vacuous"

    # 6. BPE train on the SURVIVING corpus, encode, count, pack
    from collections import Counter

    wc: Counter = Counter()
    for t in clean.values():
        for w in t.split(" "):
            if w:
                wc[w] += 1
    words = {w: tuple(list(w) + ["</w>"]) for w in wc}

    def merge_word(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return tuple(out)

    for _ in range(8):
        pc: Counter = Counter()
        for w, syms in words.items():
            f = wc[w]
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += f
        if not pc:
            break
        (a, b), _cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        words = {w: merge_word(syms, a, b) for w, syms in words.items()}

    nsub = {w: len(syms) for w, syms in words.items()}
    doc_n = {}
    for d, t in clean.items():
        n = sum(nsub[w] for w in t.split(" ") if w)
        if n > 0:
            doc_n[d] = n

    def shard(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:12], 16) % 8

    order = sorted(
        doc_n,
        key=lambda d: (shard(d), hashlib.md5(str(d).encode()).hexdigest(), d),
    )
    want = {}
    cum = 0
    for d in order:
        n = doc_n[d]
        want[d] = (n, cum // 512, (cum + n - 1) // 512, cum % 512)
        cum += n

    got = {
        r["doc_id"]: (
            r["n_subwords"], r["seq_first"], r["seq_last"], r["bin_offset"]
        )
        for r in QUERIES["llm_corpus_pipeline"](spark, sf_dir).collect()
    }
    assert got == want


def test_funnel_matches_independent_pandas_walk(spark, sf_dir):
    """Independent witness for the r14 one-pass funnel: a pure-pandas
    per-user walk (min view ts, then first click strictly after it,
    then first purchase strictly after that) — a third formulation
    next to the Spark window stack and the DuckDB per-stage-CTE
    oracle, so a shared misreading of the ordered-stage semantics
    cannot survive all three (the replay-oracle lesson: both engines
    replaying the same wrong formulation stays green)."""
    import pandas as pd

    import __spark_entry__ as m

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "event_type", "ts"]
    )
    n_view = n_click = n_purchase = 0
    for _, g in ev.groupby("user_id"):
        views = g.loc[g.event_type == "view", "ts"]
        if views.empty:
            continue
        n_view += 1
        t_view = views.min()
        clicks = g.loc[(g.event_type == "click") & (g.ts > t_view), "ts"]
        if clicks.empty:
            continue
        n_click += 1
        t_click = clicks.min()
        purchases = g.loc[
            (g.event_type == "purchase") & (g.ts > t_click), "ts"
        ]
        if not purchases.empty:
            n_purchase += 1

    got = {
        r["stage"]: r["users"]
        for r in m.queries()["funnel_analysis"](spark, sf_dir).collect()
    }
    assert got == {
        "1_view": n_view,
        "2_click": n_click,
        "3_purchase": n_purchase,
    }, (got, n_view, n_click, n_purchase)
