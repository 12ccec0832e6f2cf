"""Semi-structured → relational normalization (SURVEY.md §2.2 P5/P9/P10,
§2.8 fault tolerance).

The reference normalizes ragged wiki-JSON dicts record-by-record in Python
(``clean_movie``/``change_column_name``, challenge.py:51-83). Spark-first,
the same semantics are columnar:

- synonym-key canonicalization = ``coalesce()`` across the synonym columns
  (a record populates at most one synonym; coalesce order follows the
  reference's rename order for tie cases),
- alt-title collection = a filtered ``MapType`` column,
- the 90%-null column prune = a two-job data-dependent projection
  (one 1-row aggregate to the driver, then a select),
- column-drop-on-corruption = validate-then-commit with ``observe()``-style
  single-pass counting.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from movies_etl_spark.operators import caching

# The 19 synonym renames of challenge.py:63-81, as canonical → ordered
# synonyms. Order matters for tie cases: the reference's per-record
# ``movie[new] = movie.pop(old)`` means the *last rename executed* wins,
# so each coalesce list is the reference's rename sequence REVERSED, with
# the pre-existing canonical key last (any rename overwrites it).
# e.g. Writer(s): renames fire in order Adaptation by → Screen story by →
# Screenplay by → Story by → Written by (challenge.py:63-81), so
# "Written by" has top priority. "Release date" chains two renames:
# Released→Release Date→Release date (challenge.py:74-75).
WIKI_SYNONYMS: dict[str, list[str]] = {
    "Country": ["Country of origin", "Country"],
    "Director": ["Directed by", "Director"],
    "Distributor": ["Distributed by", "Distributor"],
    "Editor(s)": ["Edited by", "Editor(s)"],
    "Composer(s)": ["Theme music composer", "Music by", "Composer(s)"],
    "Producer(s)": ["Producer", "Produced by", "Producer(s)"],
    "Production company(s)": [
        "Productioncompany ",
        "Productioncompanies ",
        "Production company(s)",
    ],
    "Writer(s)": [
        "Written by",
        "Story by",
        "Screenplay by",
        "Screen story by",
        "Adaptation by",
        "Writer(s)",
    ],
    "Running time": ["Length", "Running time"],
    "Release date": ["Released", "Release Date", "Original release", "Release date"],
}

# The 20 alternate-title language keys collected into ``alt_titles``
# (challenge.py:45-49).
ALT_TITLE_KEYS: list[str] = [
    "Also known as",
    "Arabic",
    "Cantonese",
    "Chinese",
    "French",
    "Hangul",
    "Hebrew",
    "Hepburn",
    "Japanese",
    "Literally",
    "Mandarin",
    "McCune–Reischauer",  # en-dash, as in challenge.py:47
    "Original title",
    "Polish",
    "Revised Romanization",
    "Romanized",
    "Russian",
    "Simplified",
    "Traditional",
    "Yiddish",
]

#: The reference's prune line (challenge.py:95-97): a column at least 90%
#: null is dropped.
NULL_PRUNE_THRESHOLD = 0.9


def canonicalize_keys(
    df: DataFrame, synonyms: dict[str, list[str]] | None = None
) -> DataFrame:
    """P9: fold synonym columns into canonical ones via first-non-null
    coalesce, dropping the sources (challenge.py:60-83)."""
    synonyms = synonyms if synonyms is not None else WIKI_SYNONYMS
    present = set(df.columns)
    out = df
    to_drop: list[str] = []
    for canon, sources in synonyms.items():
        live = [s for s in sources if s in present]
        if not live:
            continue
        out = out.withColumn(f"__canon__{canon}", F.coalesce(*[F.col(f"`{s}`") for s in live]))
        to_drop.extend(s for s in live)
    for s in set(to_drop):
        out = out.drop(s)
    for canon in synonyms:
        if f"__canon__{canon}" in out.columns:
            out = out.withColumnRenamed(f"__canon__{canon}", canon)
    return out


def collect_map_column(
    df: DataFrame,
    keys: Sequence[str] | None = None,
    target: str = "alt_titles",
) -> DataFrame:
    """P10: gather the alt-language title columns into one
    ``MapType(String,String)`` column, keeping only non-null entries,
    and drop the source columns (challenge.py:45-58)."""
    keys = [k for k in (keys or ALT_TITLE_KEYS) if k in df.columns]
    if not keys:
        return df.withColumn(
            target, F.create_map().cast("map<string,string>")
        )
    m = F.map_from_arrays(
        F.array(*[F.lit(k) for k in keys]),
        F.array(*[F.col(f"`{k}`").cast("string") for k in keys]),
    )
    return df.withColumn(
        target, F.map_filter(m, lambda _, v: v.isNotNull())
    ).drop(*keys)


def _null_count(c: str) -> Column:
    """Null count of column ``c``: the tally every null-ratio decision
    and the per-column null-count query read."""
    return F.sum(F.col(f"`{c}`").isNull().cast("long"))


def _prune_aggs(columns: Sequence[str]) -> list[Column]:
    """Row count plus one ``null__<col>`` tally per column — the prune
    half of the one auxiliary aggregate."""
    return [
        F.count(F.lit(1)).alias("__total__"),
        *[_null_count(c).alias(f"null__{c}") for c in columns],
    ]


def _prune_keep(columns: Sequence[str], tallies: dict) -> list[str]:
    """The null-ratio prune rule: keep a column whose null share is under
    :data:`NULL_PRUNE_THRESHOLD`. An empty frame, or one where every
    column is over it, keeps everything — the reference warns and leaves
    the frame unchanged rather than projecting to nothing
    (challenge.py:95-97)."""
    total = tallies["__total__"] or 0
    if total == 0:
        return list(columns)
    keep = [
        c
        for c in columns
        if (tallies[f"null__{c}"] or 0) / total < NULL_PRUNE_THRESHOLD
    ]
    return keep or list(columns)


def null_ratio_prune(df: DataFrame) -> DataFrame:
    """P5: data-dependent projection — keep columns whose null ratio is
    below :data:`NULL_PRUNE_THRESHOLD` (challenge.py:95-97).

    Two jobs by design: a single 1-row aggregate (null count per column +
    total count, one pass over the data) collected to the driver, then a
    plain ``select``. The aggregate is O(#columns), scale-safe at any row
    count."""
    row = df.agg(*_prune_aggs(df.columns)).collect()[0].asDict()
    return df.select(*[F.col(f"`{c}`") for c in _prune_keep(df.columns, row)])


def null_counts(df: DataFrame) -> DataFrame:
    """A4: per-column null counts as a 1-row frame (challenge.py:95)."""
    return df.select(*[_null_count(c).alias(c) for c in df.columns])


def normalize_mixed_cell(c: Column) -> Column:
    """§7.4: a JSON-inferred column whose cells are string OR array.

    Spark's JSON schema inference widens a key holding both scalars and
    arrays to StringType, rendering array cells as their JSON text
    (``["May 17, 1990","(","1990-05-17",")"]``). The reference's
    ``' '.join(x) if type(x) == list else x`` (challenge.py:131) therefore
    becomes: detect JSON-array text → parse → space-join; else keep the
    scalar. Pure native expressions, null-safe."""
    joined = F.concat_ws(" ", F.from_json(c, "array<string>"))
    return F.when(
        c.isNotNull() & c.startswith("["), F.coalesce(F.nullif(joined, F.lit("")), c)
    ).otherwise(c)


def _attach_parsed(
    df: DataFrame, specs: dict[str, tuple[Column, str]]
) -> tuple[DataFrame, list[Column]]:
    """Shared front half of every batched validation: attach the
    ``__parsed__<col>`` columns and build the in/ok tally aggregates."""
    out = df
    aggs: list[Column] = []
    for column, (parsed, _) in specs.items():
        out = out.withColumn(f"__parsed__{column}", parsed)
        aggs.append(F.count(F.col(f"`{column}`")).alias(f"in__{column}"))
        aggs.append(F.count(F.col(f"__parsed__{column}")).alias(f"ok__{column}"))
    return out, aggs


def _commit_validated(
    columns: Sequence[str],
    kept: set,
    specs: dict[str, tuple[Column, str]],
    tallies: dict,
) -> tuple[list[Column], dict[str, dict[str, int]]]:
    """Shared back half: apply each spec's ``fail_when`` rule to the
    ``in__``/``ok__`` tallies and build the survivor projection over the
    ``kept`` columns. The single source of truth for the failure rule —
    validated_cast_many, prune_and_validated_cast and its staged twin
    all commit through here."""
    all_stats: dict[str, dict[str, int]] = {}
    final_cols: list[Column] = []
    for c in columns:
        if c not in kept:
            if c in specs:
                # A spec column removed by the null-ratio prune: its
                # tallies were computed in the same pass — record them
                # with an explicit marker so stats consumers can tell a
                # pruned spec column from one never specced.
                all_stats[c] = {
                    "n_input": tallies[f"in__{c}"],
                    "n_parsed": tallies[f"ok__{c}"],
                    "dropped": 1,
                    "dropped_by_null_prune": 1,
                }
            continue
        if c not in specs:
            final_cols.append(F.col(f"`{c}`"))
            continue
        _, fail_when = specs[c]
        n_input, n_parsed = tallies[f"in__{c}"], tallies[f"ok__{c}"]
        failed = (
            (n_parsed < n_input)
            if fail_when == "any"
            else (n_parsed == 0 and n_input > 0)
        )
        all_stats[c] = {
            "n_input": n_input,
            "n_parsed": n_parsed,
            "dropped": int(failed),
        }
        if not failed:
            final_cols.append(F.col(f"`__parsed__{c}`").alias(c))
    return final_cols, all_stats


def prune_and_validated_cast(
    df: DataFrame, specs: dict[str, tuple[Column, str]]
) -> tuple[DataFrame, dict[str, dict[str, int]]]:
    """P5 + §2.8 fused: ONE auxiliary aggregate computes both the
    per-column null ratios (the 90%-null prune decision) and the parse
    validation tallies (the column-drop-on-corruption decision), then one
    select commits both. Separately they cost two full-input scans before
    the final action; fused, the source is scanned once for the aggregate
    and the final action reads the cache.

    Semantics match prune-then-validate exactly: a spec column that fails
    the null prune is dropped without a parse commit (its tallies are
    computed but discarded — wasted adds in one pass beat a whole extra
    scan), and the no-survivor edge keeps the frame unchanged like
    null_ratio_prune.

    The attached-parse frame is cached (``caching.tracked_persist``; the
    default level spills to disk) between the auxiliary aggregate and the
    caller's final action, so an expensive source (ragged JSON: parse +
    synonym coalesce + dedup window + regex battery; the window shuffles
    only for a source above ``spark.sql.files.openCostInBytes``, which
    ``sources.readers`` reads in more than one partition) is computed ONCE
    instead of once per action. The query registry releases the tracked
    cache when the next query builds; a caller outside it calls
    ``caching.release_tracked()`` once its result is materialized, or the
    entry stays pinned until the session stops (one CacheManager entry
    per distinct input plan). When the source scan dominates, the
    parquet-staged twin :func:`prune_and_validated_cast_staged` does less
    work: one job fewer and about 40% fewer input bytes on the 1 M-row
    wiki bench (counters in ``pipeline.clean_wiki``)."""
    out, aggs = _attach_parsed(df, specs)
    out = caching.tracked_persist(out)
    row = out.agg(*_prune_aggs(df.columns), *aggs).collect()[0].asDict()
    keep = _prune_keep(df.columns, row)
    final_cols, all_stats = _commit_validated(df.columns, set(keep), specs, row)
    return out.select(*final_cols), all_stats


def prune_and_validated_cast_staged(
    df: DataFrame, specs: dict[str, tuple[Column, str]], stage_path: str
) -> tuple[DataFrame, dict[str, dict[str, int]]]:
    """Disk-staged twin of :func:`prune_and_validated_cast` for expensive
    sources (ragged JSON, CSV): ONE pass computes the parse columns and
    carries the null-ratio + validation tallies as ``observe()`` metrics
    while materializing the parsed frame as columnar parquet; the
    survivor projection then reads the staging table instead of
    recomputing parse + dedup + regex from the raw source. Unlike the
    in-memory persist, the staging table is fault-tolerant at cluster
    scale (a lost partition re-reads parquet, not the raw source) and
    survives the session — the 100 TB shape of the reference's
    try/except column-drop (challenge.py:129-230). Originals of spec
    columns are not staged: commit either replaces them with the parsed
    value or drops the column entirely, so they never survive.

    ``stage_path`` is a PREFIX, not the written location: each invocation
    writes to ``{stage_path}-{uuid}`` so a re-run (or a concurrent
    pipeline sharing a stage dir) can never clobber parquet that a
    still-alive earlier result lazily references. Staging tables are
    session-scoped scratch — callers own cleanup of the stage_path
    parent once no returned frame is live (a TTL sweep in production)."""
    import uuid

    from pyspark.sql import Observation

    stage_path = f"{stage_path.rstrip('/')}-{uuid.uuid4().hex[:12]}"

    out, aggs = _attach_parsed(df, specs)
    obs = Observation("prune_validated_stage")
    out = out.observe(obs, *_prune_aggs(df.columns), *aggs)
    staged_cols = [c for c in out.columns if c not in specs]
    out.select(*[F.col(f"`{c}`") for c in staged_cols]).write.mode(
        "overwrite"
    ).parquet(stage_path)
    row = obs.get
    keep = _prune_keep(df.columns, row)
    final_cols, all_stats = _commit_validated(df.columns, set(keep), specs, row)
    staged = df.sparkSession.read.parquet(stage_path)
    return staged.select(*final_cols), all_stats


def validated_cast_many(
    df: DataFrame, specs: dict[str, tuple[Column, str]]
) -> tuple[DataFrame, dict[str, dict[str, int]]]:
    """§2.8/§4.3: column-level fault tolerance — validate-then-commit.

    The reference wraps each transform in try/except and drops the WHOLE
    column if the transform raises (challenge.py:129-230). Spark casts are
    lazy and null-on-error, so the contract becomes: attach each spec's
    parsed column, count parse failures (non-null input → null output) in
    ONE aggregate pass over every spec, and drop a column when the
    reference's raise condition holds:

    - ``fail_when='any'``  — any non-null un-castable value raises
      (``errors='raise'`` casts, F12/F13)
    - ``fail_when='all'``  — only a fully-unparseable column is dropped
      (regex extraction pipelines that NaN quietly, F5/F7: the reference
      only raises on systemic failure, e.g. wrong dtype)

    Then one select commits the survivors, each parsed value under its
    original name. Returns (new_df, per-spec stats)."""
    out, aggs = _attach_parsed(df, specs)
    row = out.agg(*aggs).collect()[0].asDict()
    final_cols, all_stats = _commit_validated(
        df.columns, set(df.columns), specs, row
    )
    return out.select(*final_cols), all_stats
