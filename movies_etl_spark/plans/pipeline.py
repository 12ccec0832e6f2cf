"""The end-to-end movies ETL plan — the engine's equivalent of the
reference's ``ETLchallenge(wikijson, kagmeta, kagrating)``
(challenge.py:18-314), composed lazily from the operator library.

Differences by design (SURVEY.md §3.1):
- nothing materializes in driver memory; the whole E→T→L is one lazy plan
  per output table, optimized by Catalyst (the reference loads 794 MB of
  ratings into RAM before doing anything);
- the per-column try/except fault tolerance becomes validate-then-commit
  (`validated_cast_many`: ONE aggregate pass validates every guarded
  column, challenge.py:129-230);
- the 26M-row ratings table is semi-joined to a broadcast of the merged
  movies' keys, then aggregated (one shuffle on movieId) into at most one
  row per kept movie BEFORE joining — the join itself is a broadcast;
- that movieId shuffle, like the wiki dedup's and the validation
  tallies' shuffles, applies only to sources above
  ``spark.sql.files.openCostInBytes`` (4 MB by default):
  ``sources.readers`` reads a smaller source as one partition, which
  every window, aggregate and join above it already satisfies;
- the merged movies are built once: ``merge_movies`` caches its frame, so
  the ``movies`` and ``movies_ratings`` sinks and the key broadcast share
  one parse of the kaggle CSV and one wiki join;
- the chunked ratings re-scan + chunked JDBC load (challenge.py:299-314)
  is a partitioned scan feeding a partitioned write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movies_etl_spark.functions import expr as E
from movies_etl_spark.operators import caching
from movies_etl_spark.operators import normalize as N
from movies_etl_spark.operators import ratings as R
from movies_etl_spark.operators import relational as REL
from movies_etl_spark.sources import readers

#: final 31-column projection, fixed order (challenge.py:249-254)
MOVIES_COLUMN_ORDER = [
    "imdb_id", "id", "title_kaggle", "original_title", "tagline",
    "belongs_to_collection", "url", "imdb_link", "runtime", "budget_kaggle",
    "revenue", "release_date_kaggle", "popularity", "vote_average",
    "vote_count", "genres", "original_language", "overview",
    "spoken_languages", "Country", "production_companies",
    "production_countries", "Distributor", "Producer(s)", "Director",
    "Starring", "Cinematography", "Editor(s)", "Writer(s)", "Composer(s)",
    "Based on",
]

#: final snake_case rename map (challenge.py:256-271)
MOVIES_RENAME_MAP = {
    "id": "kaggle_id",
    "title_kaggle": "title",
    "url": "wikipedia_url",
    "budget_kaggle": "budget",
    "release_date_kaggle": "release_date",
    "Country": "country",
    "Distributor": "distributor",
    "Producer(s)": "producers",
    "Director": "director",
    "Starring": "starring",
    "Cinematography": "cinematography",
    "Editor(s)": "editors",
    "Writer(s)": "writers",
    "Composer(s)": "composers",
    "Based on": "based_on",
}

#: wiki columns whose cells may be scalar OR list in the raw JSON —
#: normalized to space-joined strings before parsing (challenge.py:131,
#: 144,156,167 apply the list-join only to these four, but any string
#: column may arrive mixed; we normalize the parse inputs).
MIXED_CELL_PARSE_COLUMNS = ["Box office", "Budget", "Release date", "Running time"]


def clean_wiki(wiki_raw: DataFrame, stage_dir: str | None = None) -> DataFrame:
    """Wiki-side normalization (challenge.py:34-174).

    P1 key-existence filter → P10 alt-title map → P9 synonym coalesce →
    F1 imdb-id extraction → D1 first-wins dedup → P5 null-ratio prune →
    the four guarded parse pipelines (F3-F11) via one batched
    validate-then-commit pass.

    ``stage_dir`` switches the fused prune+validate to its disk-staged
    twin: the parse/dedup/coalesce work materializes ONCE as columnar
    parquet (validation tallies ride the same pass as observe metrics)
    and every downstream action reads the staging table instead of
    re-parsing the raw JSON — the right shape when the source scan
    dominates. Measured on ``bench_reference_scale.bench_wiki_parse``'s
    1 M generated records (989,690 output rows, identical on both paths),
    read → clean_wiki → parquet write, 3 alternating fresh-JVM pairs on
    4 vCPU: the in-memory path runs 6 jobs, reads 939.6 MB and uses
    62.2-66.8 executor CPU-s; the staged path runs 5 jobs, reads
    558.6 MB and uses 45.8-56.3 executor CPU-s.
    """
    df = wiki_raw
    # Capture scan order BEFORE any shuffle so dedup can keep the pandas
    # "first occurrence in file order" row (SURVEY §2.5 D1).
    df = df.withColumn("__file_order__", F.monotonically_increasing_id())

    # P1 (challenge.py:34-37): key-existence ≡ non-null after JSON inference.
    director = [c for c in ("Director", "Directed by") if c in df.columns]
    cond = F.lit(False)
    for c in director:
        cond = cond | F.col(f"`{c}`").isNotNull()
    df = df.filter(cond & F.col("imdb_link").isNotNull())
    if "No. of episodes" in df.columns:
        df = df.filter(F.col("`No. of episodes`").isNull())

    # P10 then P9 (challenge.py:45-83).
    df = N.collect_map_column(df)
    df = N.canonicalize_keys(df)

    # F1 + D1 (challenge.py:90-91): first-in-file-order wins.
    df = df.withColumn("imdb_id", E.extract_imdb_id(F.col("imdb_link")))
    df = REL.dedup_first_wins(df, ["imdb_id"], ["__file_order__"])

    # P5 + the four guarded parse blocks (challenge.py:95-97 + 129-174),
    # FUSED: one auxiliary aggregate carries both the 90%-null prune
    # decision and the parse validation tallies, so the whole wiki path
    # scans its input exactly twice (aux pass + final action) instead of
    # three times. Specs are built pre-prune (guarded by column
    # presence); a spec column the prune drops is simply never
    # committed, which is what prune-then-validate produced too.
    specs = {}
    if "Box office" in df.columns:
        cell = N.normalize_mixed_cell(F.col("`Box office`"))
        specs["Box office"] = (E.parse_money_column(cell), "all")
    if "Budget" in df.columns:
        cell = N.normalize_mixed_cell(F.col("`Budget`"))
        specs["Budget"] = (E.parse_money_column(cell), "all")
    if "Release date" in df.columns:
        cell = N.normalize_mixed_cell(F.col("`Release date`"))
        specs["Release date"] = (E.parse_date_column(cell), "all")
    if "Running time" in df.columns:
        cell = N.normalize_mixed_cell(F.col("`Running time`"))
        specs["Running time"] = (E.parse_running_time(cell), "all")
    if stage_dir is not None:
        df, _stats = N.prune_and_validated_cast_staged(
            df, specs, f"{stage_dir}/wiki_staged"
        )
    else:
        # caches the attached-parse frame across the tally aggregate and
        # the caller's final action; the query registry releases tracked
        # caches when the next query builds
        df, _stats = N.prune_and_validated_cast(df, specs)
    renames = {
        "Box office": "box_office",
        "Budget": "budget",
        "Release date": "release_date",
        "Running time": "running_time",
    }
    df = df.withColumnsRenamed({k: v for k, v in renames.items() if k in df.columns})
    return df.drop("__file_order__")


def clean_kaggle(kaggle: DataFrame) -> DataFrame:
    """Kaggle-side typing (challenge.py:179-220): P2 filter, then guarded
    F14/F12/F13/F9 casts with 'any'-failure column-drop semantics."""
    df = kaggle.filter(F.col("adult") == "False").drop("adult")
    specs = {
        "video": (E.cast_bool_eq(F.col("video")), "any"),
        "budget": (E.cast_int(F.col("budget")), "any"),
        "id": (E.cast_long(F.col("id")), "any"),
        "popularity": (E.cast_double(F.col("popularity")), "any"),
        "release_date": (E.to_date_std(F.col("release_date")), "any"),
    }
    specs = {k: v for k, v in specs.items() if k in df.columns}
    df, _stats = N.validated_cast_many(df, specs)
    return df


def clean_ratings(ratings: DataFrame) -> DataFrame:
    """Ratings typing (challenge.py:225-230): F10 epoch → timestamp."""
    if "timestamp" in ratings.columns:
        return ratings.withColumn(
            "timestamp", E.from_unix_seconds(F.col("timestamp"))
        )
    return ratings


def merge_movies(wiki: DataFrame, kaggle: DataFrame) -> DataFrame:
    """J1 + P7 + F15×3 + P6 + P8 (challenge.py:235-271).

    The merged frame is persisted and registered with ``caching``, as
    ``clean_wiki``'s parse frame is: it feeds the ``movies`` sink, the
    rating counts' key broadcast and the ``movies_ratings`` sink, and the
    first action fills the cache the others read. It lives until
    ``caching.release_tracked()`` — which the query registry calls when
    the next query builds — or until the session stops."""
    movies = REL.join_with_suffixes(
        wiki, kaggle, on="imdb_id", suffixes=("_wiki", "_kaggle")
    )
    movies = REL.drop_columns(
        movies,
        [c for c in ("title_wiki", "release_date_wiki", "Language",
                     "Production company(s)") if c in movies.columns],
    )
    # F15 precedence fills (challenge.py:244-246).
    fills = [
        ("runtime", "running_time"),
        ("budget_kaggle", "budget_wiki"),
        ("revenue", "box_office"),
    ]
    for keep, fallback in fills:
        if keep in movies.columns and fallback in movies.columns:
            movies = movies.withColumn(
                keep, E.fill_if_zero(F.col(f"`{keep}`"), F.col(f"`{fallback}`"))
            ).drop(fallback)
    order = [c for c in MOVIES_COLUMN_ORDER if c in movies.columns]
    movies = REL.select_reorder(movies, order)
    movies = REL.rename_columns(
        movies, {k: v for k, v in MOVIES_RENAME_MAP.items() if k in movies.columns}
    )
    return caching.tracked_persist(movies)


def movies_with_ratings(movies: DataFrame, ratings: DataFrame) -> DataFrame:
    """A1-A3 + F16 + J2 (challenge.py:276-285)."""
    return R.attach_rating_counts(movies, ratings)


def run_pipeline(
    spark: SparkSession,
    wiki_json_path: str,
    kaggle_csv_path: str,
    ratings_csv_path: str,
) -> dict[str, DataFrame]:
    """Full E→T→L composition; returns the three output tables lazily
    (callers pick the sink: parquet primary, JDBC parity)."""
    wiki_raw = readers.read_json_records(spark, wiki_json_path, multiline=True)
    kaggle_raw = readers.read_csv(spark, kaggle_csv_path, infer=False)
    ratings_raw = readers.read_csv(spark, ratings_csv_path, infer=True)

    wiki = clean_wiki(wiki_raw)
    kaggle = clean_kaggle(kaggle_raw)
    ratings = clean_ratings(ratings_raw)

    movies = merge_movies(wiki, kaggle)
    with_ratings = movies_with_ratings(movies, ratings_raw)
    return {
        "movies": movies,
        "movies_ratings": with_ratings,
        "ratings": ratings,
    }
