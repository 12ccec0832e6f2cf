"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed, so the same seed always
gives the same files. The engine receives only these files.

- :func:`write_etl_inputs` — the reference job's three inputs: a ragged
  wiki JSON array, a kaggle metadata CSV and a ratings CSV, plus the row
  counts and rating-bucket totals the pipeline must reproduce.
- :func:`tables` — the ten analytics tables the registered queries read
  (``region`` … ``embeddings``), shaped like the engine's test data.
- :func:`documents` — the text corpus, with planted near-duplicate
  families, shared by the query mix and the streaming ingest.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

RATING_BUCKETS = [0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0]

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "group filter big vector stream"
).split()

# ---------------------------------------------------------------------------
# ETL inputs
# ---------------------------------------------------------------------------

_MONTHS = [
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
]
_ALT_KEYS = ["Also known as", "French", "Japanese", "Hangul", "Mandarin", "Literally"]
_JUNK_KEYS = [
    "Genre", "Original network", "Preceded by", "Followed by", "Narrated by",
    "Animation by", "Color process", "Budget notes", "Camera setup",
    "Audio format", "Picture format", "Location",
]
# canonical key → the synonym spellings a record may use instead
_SYNONYMS = {
    "Director": ["Director", "Directed by"],
    "Distributor": ["Distributor", "Distributed by"],
    "Country": ["Country", "Country of origin"],
    "Producer(s)": ["Producer", "Produced by", "Producer(s)"],
    "Writer(s)": ["Written by", "Screenplay by", "Story by"],
    "Composer(s)": ["Music by", "Composer(s)"],
    "Editor(s)": ["Edited by", "Editor(s)"],
    "Production company(s)": ["Productioncompany ", "Productioncompanies "],
}

KAGGLE_COLUMNS = [
    "adult", "belongs_to_collection", "budget", "genres", "homepage", "id",
    "imdb_id", "original_language", "original_title", "overview",
    "popularity", "poster_path", "production_companies",
    "production_countries", "release_date", "revenue", "runtime",
    "spoken_languages", "status", "tagline", "title", "video",
    "vote_average", "vote_count",
]


def _money(rng: np.random.Generator) -> str | list[str]:
    form = rng.integers(0, 8)
    x = float(rng.integers(1, 900)) / 10
    if form == 0:
        return f"${x} million"
    if form == 1:
        return f"${x / 100:.1f} billion"
    if form == 2:
        return f"${int(x * 1_000_000):,}"
    if form == 3:
        return f"${x}–{x + 0.5:.1f} million"
    if form == 4:
        return f"${x} milion"
    if form == 5:
        return f"${x} million[{rng.integers(1, 9)}]"
    if form == 6:
        return "N/A"
    return [f"${x} million", "(", "estimated", ")"]


def _date(rng: np.random.Generator, year: int) -> str | list[str]:
    m, d = int(rng.integers(1, 13)), int(rng.integers(1, 29))
    form = rng.integers(0, 5)
    if form == 0:
        return f"{_MONTHS[m - 1]} {d}, {year}"
    if form == 1:
        return f"{year}-{m:02d}-{d:02d}"
    if form == 2:
        return f"{_MONTHS[m - 1]} {year}"
    if form == 3:
        return str(year)
    return [f"{_MONTHS[m - 1]} {d}, {year}", "(", f"{year}-{m:02d}-{d:02d}", ")"]


def _runtime(rng: np.random.Generator) -> str | list[str]:
    mins = int(rng.integers(70, 200))
    form = rng.integers(0, 5)
    if form == 0:
        return f"{mins} minutes"
    if form == 1:
        return f"{mins // 60} hour {mins % 60} minutes"
    if form == 2:
        return f"{mins // 60} hr"
    if form == 3:
        return f"approx. {mins} min"
    return [f"{mins} minutes", "(", "theatrical", ")"]


def _people(rng: np.random.Generator, tag: str) -> str | list[str]:
    n = int(rng.integers(1, 4))
    names = [f"{tag} {int(rng.integers(0, 5000))}" for _ in range(n)]
    return names[0] if n == 1 else names


def wiki_records(
    rng: np.random.Generator, n: int, n_imdb: int
) -> tuple[list[dict], set[int]]:
    """``n`` ragged wiki records over imdb numbers ``0..n_imdb-1``.

    Returns the records and the imdb numbers that survive the pipeline's
    wiki filters (a director, an imdb link, no episode count); the
    pipeline keeps one record per surviving number."""
    recs: list[dict] = []
    kept: set[int] = set()
    for i in range(n):
        year = int(rng.integers(1960, 2018))
        imdb_n = int(rng.integers(0, n_imdb))
        rec: dict = {
            "url": f"https://en.wikipedia.org/wiki/Film_{i}",
            "year": year,
            "title": f"Film {i}",
        }
        has_link = rng.random() < 0.95
        has_director = rng.random() < 0.92
        episodes = rng.random() < 0.02
        if has_link:
            rec["imdb_link"] = f"https://www.imdb.com/title/tt{imdb_n:07d}/"
        if has_director:
            rec[rng.choice(_SYNONYMS["Director"])] = _people(rng, "Dir")
        if episodes:
            rec["No. of episodes"] = int(rng.integers(2, 40))
        for canon, spellings in _SYNONYMS.items():
            if canon != "Director" and rng.random() < 0.6:
                rec[str(rng.choice(spellings))] = _people(rng, canon[:4])
        rec["Starring"] = _people(rng, "Actor")
        if rng.random() < 0.8:
            rec["Box office"] = _money(rng)
        if rng.random() < 0.8:
            rec["Budget"] = _money(rng)
        date_key = str(rng.choice(["Release date", "Released", "Original release"]))
        rec[date_key] = _date(rng, year)
        rt_key = "Length" if rng.random() < 0.1 else "Running time"
        rec[rt_key] = _runtime(rng)
        if rng.random() < 0.3:
            rec[str(rng.choice(_ALT_KEYS))] = f"Film {i} alt"
        if rng.random() < 0.05:
            rec[str(rng.choice(_JUNK_KEYS))] = f"junk {i}"
        recs.append(rec)
        # the filters run before the dedup, so only passing records compete
        if has_link and has_director and not episodes:
            kept.add(imdb_n)
    return recs, kept


def write_etl_inputs(
    target: str,
    seed: int,
    n_wiki: int,
    n_kaggle: int,
    n_ratings: int,
) -> dict:
    """Write ``wiki.json``, ``kaggle.csv`` and ``ratings.csv`` under
    ``target``; return their paths, sizes and the expected outputs."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(target, exist_ok=True)
    # imdb ids shared by both sources: kaggle rows use 0..n_kaggle-1 and
    # wiki draws from a range twice as wide, so about half the wiki ids
    # have no kaggle row and vice versa
    recs, wiki_kept = wiki_records(rng, n_wiki, 2 * n_kaggle)
    wiki_path = os.path.join(target, "wiki.json")
    with open(wiki_path, "w") as f:
        json.dump(recs, f)

    adult = rng.choice(["False", "True", "shifted"], n_kaggle, p=[0.97, 0.02, 0.01])
    kaggle_ids = rng.permutation(n_kaggle) + 100  # unique ratings join key
    kaggle_path = os.path.join(target, "kaggle.csv")
    with open(kaggle_path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(KAGGLE_COLUMNS)
        for j in range(n_kaggle):
            year = 1960 + j % 58
            w.writerow([
                adult[j], "", int(rng.integers(0, 3)) * 10_000_000,
                "[{'id': 18, 'name': 'Drama'}]", "", int(kaggle_ids[j]),
                f"tt{j:07d}", "en", f"Kaggle {j}", f"about film {j}",
                f"{rng.random() * 20:.3f}", "/p.jpg", "[]", "[]",
                f"{year}-{1 + j % 12:02d}-{1 + j % 28:02d}",
                int(rng.integers(0, 3)) * 25_000_000, int(rng.integers(0, 180)),
                "[]", "Released", "", f"Kaggle {j}", "False",
                f"{rng.random() * 10:.1f}", int(rng.integers(0, 5000)),
            ])
    movie_rows = np.array(
        [j for j in range(n_kaggle) if adult[j] == "False" and j in wiki_kept]
    )
    movie_ids = kaggle_ids[movie_rows] if len(movie_rows) else np.array([], int)

    # ratings: 90 % hit a kaggle id, 10 % an id with no movie at all
    movie_col = np.where(
        rng.random(n_ratings) < 0.9,
        rng.choice(kaggle_ids, n_ratings),
        rng.integers(10 * n_kaggle, 11 * n_kaggle, n_ratings),
    )
    bucket = rng.integers(0, len(RATING_BUCKETS), n_ratings)
    ratings = pd.DataFrame({
        "userId": rng.integers(1, 270_000, n_ratings),
        "movieId": movie_col,
        "rating": np.array(RATING_BUCKETS)[bucket],
        "timestamp": rng.integers(800_000_000, 1_500_000_000, n_ratings),
    })
    ratings_path = os.path.join(target, "ratings.csv")
    ratings.to_csv(ratings_path, index=False)
    in_movies = np.isin(movie_col, movie_ids)
    totals = np.bincount(bucket[in_movies], minlength=len(RATING_BUCKETS))
    paths = {"wiki": wiki_path, "kaggle": kaggle_path, "ratings": ratings_path}
    return {
        "paths": paths,
        "input_bytes": sum(os.path.getsize(p) for p in paths.values()),
        "records": n_wiki + n_kaggle + n_ratings,
        "expected": {
            "movies": len(movie_ids),
            "movies_ratings": len(movie_ids),
            "ratings": n_ratings,
            "bucket_totals": {
                f"rating_{b}": int(t) for b, t in zip(RATING_BUCKETS, totals)
            },
        },
    }


# ---------------------------------------------------------------------------
# Analytics tables
# ---------------------------------------------------------------------------


def documents(seed: int, n: int, family_share: float = 0.15) -> pd.DataFrame:
    """``n`` documents of 8-90 words; ``family_share`` of them are near
    copies (one or two words replaced) of an earlier document, so
    near-duplicate families span many ingest batches."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < family_share:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(WORDS))
        else:
            toks = list(rng.choice(WORDS, int(rng.integers(8, 91))))
        texts.append(" ".join(toks))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _totalprice(rng: np.random.Generator, n: int) -> np.ndarray:
    """Order totals with cents never 00 or 50. ``parse_money`` rounds
    totals scaled by powers of ten, and at an exact decimal half (443500.00
    → 4.435) the engine rounds up while its DuckDB oracle, rounding the
    binary double, rounds down; these inputs keep clear of that tie."""
    cents = rng.integers(1, 99, n)
    cents[cents == 50] = 51
    return np.round(rng.integers(1000, 500_000, n) + cents / 100, 2)


def _ts(rng, n, start: dt.datetime, days: int, unit: str) -> pa.Array:
    base = np.datetime64(start, "us")
    if unit == "day":
        off = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    else:
        off = rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")
    return pa.array(base + off, type=pa.timestamp("us"))


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten analytics tables at scale factor ``sf`` (sf 0.01: 60 K
    lineitem rows, 500 documents, 500 embeddings)."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(50_000 * sf)
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)  # noqa: E731
    i32 = lambda a: pa.array(a, type=pa.int32())  # noqa: E731
    out = {
        "region": pa.table({
            "r_regionkey": i32(np.arange(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": i32(np.arange(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32(np.arange(25) % 5),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], n_cust
            ),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}" for a, b in zip(
                    rng.choice(["small", "red", "blue", "hot", "old", "big", "green", "cold"], n_part),
                    rng.choice(["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"], n_part),
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["P", "F", "O"], n_ord),
            "o_totalprice": _totalprice(rng, n_ord),
            "o_orderdate": _ts(rng, n_ord, dt.datetime(1995, 1, 1), 2404, "day"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }),
    }
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": i32(np.concatenate([np.arange(1, k + 1) for k in lines])),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng, n_li, dt.datetime(1995, 1, 2), 2499, "day"),
    })
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(
            np.datetime64(dt.datetime(2024, 1, 1), "us") + ev_ts.astype("timedelta64[us]"),
            type=pa.timestamp("us"),
        ),
        "user_id": rng.integers(0, max(int(15_000 * sf), 10), n_ev),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_ev),
        "value": money(0.01, 500, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = pa.Table.from_pandas(documents(seed, n_doc), preserve_index=False)
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.12, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.06, (n_emb, 64))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": i32(labels),
    })
    return out

