#!/usr/bin/env python
"""Apples-to-apples benchmark at the REFERENCE'S OWN scale.

The reference's only published number (BASELINE.md) is the ratings load:
26,024,289 rows → local Postgres in 2,846.6 s (~9.1 K rows/s,
single-threaded pandas chunks, challenge.py:299-314). This script runs
the engine's equivalent of the reference's entire big-data path at the
same row count:

  1. synthesize 26,024,289 deterministic ratings distributed (no driver
     materialization — `spark.range` + expressions),
  2. ratings typing (F10 epoch→timestamp),
  3-4. the engine's own A1-A3 + J2 operator,
     `operators.ratings.attach_rating_counts`: per-movie rating-bucket
     counts (one conditional aggregate, one fact shuffle), broadcast
     left-joined onto a 45 K-row movies dimension (the kaggle id space),
  5. sink: partitioned parquet write of BOTH output tables
     (`ratings` pass-through and `movies_ratings`).

Prints one JSON line; ``jobs``, ``stages``, ``shuffle_write_bytes``,
``output_bytes`` (the parquet both sinks write) and ``executor_cpu_s``
are the ratings pipeline's counters from Spark's status store
(`perfbench/probe.StatusProbe`). The synthesized timestamps ascend with
the row id, so the `ratings` sink's timestamp column compresses better
than a real feed's would. ``movies_ratings_dense``
and ``movies_ratings_reference_shaped`` carry the same counters for a
warm `movies_ratings` run into the noop sink over two dimensions: every
one of the 45 K rated movies, and 6 K of them (the reference's merged
movies keep about 6 K of 45 K rated ids), where counting only kept
movies shrinks the shuffle. Not part of bench.py's
suite (row counts make it a ~minute-scale run); run manually:

    python bench_reference_scale.py [--rows N]
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 1)[0])

from pyspark.sql import functions as F  # noqa: E402

from movies_etl_spark.operators import ratings as R  # noqa: E402
from movies_etl_spark.session import get_spark  # noqa: E402
from perfbench.probe import StatusProbe  # noqa: E402

REFERENCE_ROWS = 26_024_289
REFERENCE_SECONDS = 2846.62
N_MOVIES = 45_000
OUT = "/tmp/movies_etl_scratch/reference_scale"


def synth_ratings(spark, rows: int, hot_fraction: float = 0.0):
    """The deterministic 26M-row ratings fact; ``hot_fraction`` > 0
    plants a hot movieId (id 0 receives that share of ALL rows) — the
    head-key shape of a production feed (one viral title)."""
    buckets = F.array(*[F.lit(b) for b in R.RATING_BUCKETS])
    spread = F.pmod(F.col("id") * 2_654_435_761, F.lit(N_MOVIES))
    movie = (
        F.when(F.col("id") % 10 < int(hot_fraction * 10), F.lit(0)).otherwise(spread)
        if hot_fraction > 0
        else spread
    )
    return spark.range(rows).select(
        (F.col("id") % 270_000).alias("userId"),
        movie.alias("movieId"),
        F.element_at(buckets, (F.col("id") % 10 + 1).cast("int")).alias("rating"),
    )


def skewed_reference_join(spark, fact, salted: bool):
    """The big-big join variant of the reference pipeline's J2: fact ⋈
    movies dimension WITHOUT broadcast (at 100 TB the dimension often
    doesn't fit / isn't chosen — stale stats, UDF-opaque sizes), so the
    join is sort-merge on movieId and a hot key lands on one reducer.
    ``salted=True`` runs operators.skew.salted_join_hot_keys instead —
    the hot key fans over 32 salt sub-keys while the dimension
    replicates only those 32 rows."""
    from movies_etl_spark.operators.skew import salted_join_hot_keys

    movies = spark.range(N_MOVIES).select(
        F.col("id").alias("movieId"),
        F.concat(F.lit("movie_"), F.col("id")).alias("title"),
    )
    if salted:
        joined = salted_join_hot_keys(
            fact, movies, "movieId", hot_keys=[0], n_salts=32,
            broadcast_small=False,
        )
    else:
        joined = fact.join(movies, "movieId")
    return joined.groupBy("rating").agg(F.count(F.lit(1)).alias("cnt"))


def bench_skew_suite(spark, rows: int) -> dict:
    """Skew-stress at reference scale, with the optimizer's safety nets
    OFF (adaptive skew-splitting would mask the imbalance; broadcast
    would dodge the shuffle): wall-clock for the uniform join, the same
    join with 30% of rows on one movieId, and the salted rewrite of the
    skewed join. The headline pipeline itself is skew-IMMUNE (map-side
    partial aggregation collapses the hot key per task; the dimension
    join broadcasts), so the stress targets the big-big join shape where
    salting is the only defense. Numbers recorded in SCALE.md."""
    from movies_etl_spark.session import temp_confs

    out = {}
    with temp_confs(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    ):
        for name, hot, salted in [
            ("join_uniform_unsalted", 0.0, False),
            ("join_hot30_unsalted", 0.3, False),
            ("join_hot30_salted", 0.3, True),
        ]:
            fact = synth_ratings(spark, rows, hot_fraction=hot)
            # Warm each plan shape once untimed, then GC (the bench.py
            # discipline). Single-shot cold timings measured the wrong
            # thing entirely: the salted join's first execution pays
            # ~7 s of codegen JIT + first-shuffle setup (9.3 s cold vs
            # 2.3 s warm), which INVERTED the suite's story — salted
            # read slower than the hot unsalted join it exists to fix,
            # purely because its plan shape ran cold and last. The
            # steady-state number is the one a production job (which
            # runs the same plan every batch/day) actually experiences.
            skewed_reference_join(spark, fact, salted=salted).write.format(
                "noop"
            ).mode("overwrite").save()
            spark._jvm.System.gc()
            t0 = time.perf_counter()
            skewed_reference_join(spark, fact, salted=salted).write.format(
                "noop"
            ).mode("overwrite").save()
            out[name] = round(time.perf_counter() - t0, 2)
    return out


def bench_dimension_shapes(spark, ratings) -> dict:
    """Warm counters of `attach_rating_counts` into the noop sink for a
    dense dimension (all N_MOVIES rated ids) and a reference-shaped one
    (2 of every 15 ids: 6,000, about the reference's 6,052 merged
    movies). Each shape runs once uncounted first, so the
    counted run excludes codegen warm-up and the cache fill.

    Each dimension is cached, as ``merge_movies`` caches the merged
    movies: a cached frame carries no filter Catalyst could infer onto
    the counts side of the left join (from ``id % 15 < 2`` it would
    otherwise prune the fact scan itself, which no join-built dimension
    allows)."""
    out = {}
    all_ids = spark.range(N_MOVIES)
    for name, ids in [
        ("movies_ratings_dense", all_ids),
        ("movies_ratings_reference_shaped", all_ids.filter(F.col("id") % 15 < 2)),
    ]:
        movies = ids.select(
            F.col("id").alias("kaggle_id"),
            F.concat(F.lit("movie_"), F.col("id")).alias("title"),
        ).persist()
        out_df = R.attach_rating_counts(movies, ratings)
        out_df.write.format("noop").mode("overwrite").save()
        probe = StatusProbe(spark)
        mark = probe.mark()
        out_df.write.format("noop").mode("overwrite").save()
        c = probe.since(mark)
        out[name] = {
            "movies": movies.count(),
            "jobs": c.jobs,
            "stages": c.stages,
            "shuffle_write_bytes": c.shuffle_write_bytes,
            "executor_cpu_s": round(c.executor_cpu_s, 2),
        }
        movies.unpersist()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=REFERENCE_ROWS)
    ap.add_argument(
        "--skip-skew", action="store_true",
        help="skip the skew-stress join suite",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="bench_reference_scale")
    shutil.rmtree(OUT, ignore_errors=True)

    buckets = F.array(*[F.lit(b) for b in R.RATING_BUCKETS])

    probe = StatusProbe(spark)
    mark = probe.mark()
    t0 = time.perf_counter()

    # 1-2: synthesize + type the ratings fact (distributed, deterministic)
    ratings = (
        spark.range(args.rows)
        .select(
            (F.col("id") % 270_000).alias("userId"),
            F.pmod(F.col("id") * 2_654_435_761, F.lit(N_MOVIES)).alias("movieId"),
            F.element_at(buckets, (F.col("id") % 10 + 1).cast("int")).alias("rating"),
            (F.lit(789_652_000) + F.col("id") % 500_000_000).alias("ts_epoch"),
        )
        .withColumn("timestamp", F.timestamp_seconds(F.col("ts_epoch")))
        .drop("ts_epoch")
    )

    # 3-4: A1-A3 + F16 (ONE shuffle of the fact table) and J2 (broadcast
    # join onto the movies dimension)
    movies = spark.range(N_MOVIES).select(
        F.col("id").alias("kaggle_id"),
        F.concat(F.lit("movie_"), F.col("id")).alias("title"),
    )
    movies_ratings = R.attach_rating_counts(movies, ratings)

    # 5: sinks (the reference's `ratings` and `movies_ratings` loads)
    ratings.write.mode("overwrite").parquet(f"{OUT}/ratings")
    movies_ratings.write.mode("overwrite").parquet(f"{OUT}/movies_ratings")

    elapsed = time.perf_counter() - t0
    counters = probe.since(mark)
    n_out = spark.read.parquet(f"{OUT}/ratings").count()
    mr = spark.read.parquet(f"{OUT}/movies_ratings").count()

    shapes = bench_dimension_shapes(spark, ratings)
    wiki_rows, wiki_elapsed = bench_wiki_parse(spark)
    skew = {} if args.skip_skew else bench_skew_suite(spark, args.rows)

    print(
        json.dumps(
            {
                "metric": "reference_scale_ratings_pipeline",
                "value": round(elapsed, 2),
                "unit": "sec",
                "rows": n_out,
                "movies_ratings_rows": mr,
                "rows_per_sec": round(n_out / elapsed),
                "reference_seconds": REFERENCE_SECONDS,
                "reference_rows_per_sec": round(REFERENCE_ROWS / REFERENCE_SECONDS),
                "speedup_vs_reference": round(
                    (REFERENCE_SECONDS / (REFERENCE_ROWS / n_out)) / elapsed, 1
                ),
                "jobs": counters.jobs,
                "stages": counters.stages,
                "shuffle_write_bytes": counters.shuffle_write_bytes,
                "output_bytes": counters.output_bytes,
                "executor_cpu_s": round(counters.executor_cpu_s, 2),
                **shapes,
                "wiki_parse_rows": wiki_rows,
                "wiki_parse_sec": round(wiki_elapsed, 2),
                "wiki_parse_rows_per_sec": round(wiki_rows / wiki_elapsed),
                "skew_suite": skew or None,
            }
        )
    )


def bench_wiki_parse(spark, n_rows: int = 1_000_000) -> tuple[int, float]:
    """The wiki side at 137× the reference's 7,311 records: generate 1M
    ragged movie records as JSONL (splittable), then run the FULL
    clean_wiki path — JSON scan, key-existence filter, alt-title map,
    synonym coalesce, imdb-id extraction, first-wins dedup, 90%-null
    prune (2 jobs), and all four guarded regex parse pipelines with one
    batched validation pass."""
    from movies_etl_spark.plans.pipeline import clean_wiki
    from movies_etl_spark.sources.readers import read_json_records

    src = f"{OUT}/wiki_jsonl"
    gen = spark.range(n_rows).select(
        F.concat(F.lit("https://en.wikipedia.org/wiki/M"), F.col("id")).alias("url"),
        (F.lit(1950) + F.col("id") % 70).alias("year"),
        # ~2% duplicate imdb ids; a few records missing the link (filtered)
        F.when(
            F.col("id") % 97 != 0,
            F.concat(
                F.lit("https://www.imdb.com/title/tt"),
                F.lpad((F.floor(F.col("id") * 51 / 50).cast("long") % 10_000_000).cast("string"), 7, "0"),
                F.lit("/"),
            ),
        ).alias("imdb_link"),
        F.concat(F.lit("Movie "), F.col("id")).alias("title"),
        F.when(F.col("id") % 2 == 0, F.lit("A Director")).alias("Directed by"),
        F.when(F.col("id") % 2 != 0, F.lit("B Director")).alias("Director"),
        F.when(F.col("id") % 3 == 0, F.lit("C Writer")).alias("Written by"),
        F.when(F.col("id") % 11 == 0, F.lit("Le Film")).alias("French"),
        F.when(F.col("id") % 5 == 0,
               F.concat(F.lit("$"), (F.col("id") % 900 / 10 + 1).cast("string"),
                        F.lit(" million")))
         .when(F.col("id") % 5 == 1,
               F.concat(F.lit("$"), (F.col("id") % 90 / 10 + 1).cast("string"),
                        F.lit("–"), (F.col("id") % 900 / 10 + 2).cast("string"),
                        F.lit(" million")))
         .when(F.col("id") % 5 == 2, F.lit("N/A"))
         .otherwise(F.concat(F.lit("$"), F.format_number((F.col("id") % 9000 + 1) * 1111, 0)))
         .alias("Box office"),
        F.concat(F.lit("$"), (F.col("id") % 200 / 10 + 0.5).cast("string"),
                 F.lit(" million")).alias("Budget"),
        F.when(F.col("id") % 4 == 0,
               F.concat(F.lit("July "), (F.col("id") % 21 + 10).cast("string"),
                        F.lit(", "), (1950 + F.col("id") % 70).cast("string")))
         .when(F.col("id") % 4 == 1,
               F.concat((1950 + F.col("id") % 70).cast("string"), F.lit("-07-15")))
         .when(F.col("id") % 4 == 2,
               F.concat(F.lit("March "), (1950 + F.col("id") % 70).cast("string")))
         .otherwise((1950 + F.col("id") % 70).cast("string"))
         .alias("Release date"),
        F.when(F.col("id") % 3 == 0,
               F.concat((F.col("id") % 120 + 60).cast("string"), F.lit(" minutes")))
         .when(F.col("id") % 3 == 1,
               F.concat(F.lit("1 hour "), (F.col("id") % 60).cast("string"),
                        F.lit(" minutes")))
         .otherwise(F.lit("2 hr"))
         .alias("Running time"),
        # junk column present on <10% of records → pruned
        F.when(F.col("id") % 50 == 0, F.lit("junk")).alias("Original network"),
    )
    gen.write.mode("overwrite").json(src)

    t0 = time.perf_counter()
    raw = read_json_records(spark, src, multiline=False)
    cleaned = clean_wiki(raw, stage_dir=f"{OUT}/wiki_stage")
    cleaned.write.mode("overwrite").parquet(f"{OUT}/wiki_clean")
    elapsed = time.perf_counter() - t0
    return spark.read.parquet(f"{OUT}/wiki_clean").count(), elapsed


if __name__ == "__main__":
    main()
