"""The workloads. Each takes a :class:`harness.Run`, generates its inputs
from the run's seed, starts its sessions, runs its timed repetitions and
checks the engine's outputs outside the timing.

- ``etl_reference`` — the reference job through the public pipeline
  functions, one fresh session per repetition.
- ``query_mix`` — one long-lived session, a closed loop of one client over
  seeded orders of a fixed pool: registered queries from five families,
  each result collected to the driver, plus the near-duplicate ingest
  gate draining a landed backlog of micro-batches through
  ``streaming.ops.lsh_dedup_batch``.

Neither warms up: the first repetition runs in the JVM's first seconds,
and ``--seconds`` sets how many repetitions follow it, so that every run
of a workload does the same work.
"""

from __future__ import annotations

import importlib.util
import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import harness
import probe
from harness import Run, fresh_dir

#: input sizes; ``small`` is the smoke-test size
ETL_SIZES = {
    "full": {"n_wiki": 1_000, "n_kaggle": 20_000, "n_ratings": 50_000},
    "small": {"n_wiki": 400, "n_kaggle": 300, "n_ratings": 5_000},
}
QUERY_SF = {"full": 0.01, "small": 0.001}
INGEST_DOCS = {"full": 200, "small": 80}
INGEST_BATCHES = 2
INGEST = "ingest"  # the pool entry that drains the landed backlog
#: session starts before the timed phase (the first launches the JVM);
#: setup_s is the median over all but that first
SETUP_STARTS = 8
#: seconds of ``--seconds`` one repetition stands for: the mean of a cold
#: first repetition and a warm one on a 4-CPU machine
REP_S = 20

POOL = {
    "relational": ["join_inner_equi"],
    "expr": ["parse_money"],
    "sketch": ["quantile_sketch_merge"],
    "curation": ["dedup_minhash_lsh"],
    "similarity": ["similarity_ann_lsh"],
}

# span key maps: measured counter → the metric suffixes it adds to
_BUILD_KEYS = {"call_s": ("build_s",), "jobs": ("build_jobs", "jobs"),
               **{k: (k,) for k in probe.COUNTERS if k != "jobs"}}
_EXEC_KEYS = {"call_s": ("exec_s",), **{k: (k,) for k in probe.COUNTERS}}
_BATCH_KEYS = {
    "call_s": ("call_s",), "jobs": ("jobs_per_batch",), "stages": ("stages_per_batch",),
    "tasks": ("tasks_per_batch",), "executor_cpu_s": ("executor_cpu_s",),
    "jvm_gc_s": ("jvm_gc_s",), "input_bytes": ("input_bytes_per_batch",),
    "output_bytes": ("output_bytes_per_batch",),
    "shuffle_write_bytes": ("shuffle_write_bytes_per_batch",),
    "spill_bytes": ("spill_bytes_per_batch",),
}
GUARD_TEXT = "LSH band bucket"


class _Abort(Exception):
    """A pipeline step failed; the rest of the repetition is skipped."""


def _step(run: Run, name: str, fn):
    with run.span(name):
        ok, value = run.attempt(fn)
    if not ok:
        raise _Abort(name)
    return value


# ---------------------------------------------------------------------------
# etl_reference
# ---------------------------------------------------------------------------


def _etl_pipeline(run: Run, paths: dict, out: str) -> None:
    """The reference job, step for step as ``pipeline.run_pipeline``
    composes it, with the three outputs written as parquet."""
    from movies_etl_spark.plans import pipeline as P
    from movies_etl_spark.sources import readers, sinks

    spark = run.spark
    rd = "sources.readers"
    wiki_raw = _step(run, rd, lambda: readers.read_json_records(spark, paths["wiki"], multiline=True))
    kaggle_raw = _step(run, rd, lambda: readers.read_csv(spark, paths["kaggle"], infer=False))
    ratings_raw = _step(run, rd, lambda: readers.read_csv(spark, paths["ratings"], infer=True))
    pp = "plans.pipeline"
    wiki = _step(run, f"{pp}.clean_wiki", lambda: P.clean_wiki(wiki_raw))
    kaggle = _step(run, f"{pp}.clean_kaggle", lambda: P.clean_kaggle(kaggle_raw))
    ratings = _step(run, f"{pp}.clean_ratings", lambda: P.clean_ratings(ratings_raw))
    movies = _step(run, f"{pp}.merge_movies", lambda: P.merge_movies(wiki, kaggle))
    with_ratings = _step(
        run, f"{pp}.movies_with_ratings", lambda: P.movies_with_ratings(movies, ratings_raw)
    )
    for table, df in (("movies", movies), ("movies_ratings", with_ratings), ("ratings", ratings)):
        _step(run, f"sources.sinks.write_parquet.{table}",
              lambda df=df, table=table: sinks.write_parquet(df, f"{out}/{table}"))


def _etl_check(run: Run, expected: dict, out: str) -> None:
    from pyspark.sql import functions as F

    spark = run.spark
    try:
        for table in harness.SINK_TABLES:
            n = spark.read.parquet(f"{out}/{table}").count()
            run.check(f"rows.{table}", n == expected[table])
        cols = list(expected["bucket_totals"])
        row = spark.read.parquet(f"{out}/movies_ratings").agg(
            *[F.sum(F.col(f"`{c}`")).alias(c) for c in cols]
        ).first()
        got = {c: int(row[c] or 0) for c in cols}
        run.check("rating_bucket_totals", got == expected["bucket_totals"])
    except Exception as exc:  # an unreadable output is a failed check
        run.detail.setdefault("errors", []).append(f"check: {exc}"[:500])
        run.check("outputs_readable", False)


def _etl_once(run: Run, inputs: dict, out: str) -> bool:
    try:
        _etl_pipeline(run, inputs["paths"], out)
        return True
    except _Abort:
        return False


def etl_reference(run: Run, size: str = "full") -> None:
    with run.phase("inputs"):
        inputs = gen.write_etl_inputs(
            os.path.join(run.work, "in"), run.seed, **ETL_SIZES[size]
        )
    run.detail["inputs"] = {**ETL_SIZES[size], "input_bytes": inputs["input_bytes"],
                            "expected": inputs["expected"]}
    out = os.path.join(run.work, "out")
    with run.phase("setup"):
        for _ in range(SETUP_STARTS):
            run.start_session()
    # no warm-up: the first repetition is the JVM's first pipeline run,
    # as for a scheduled job in a fresh driver
    for _ in range(run.planned_reps(REP_S)):
        run.start_session()
        fresh_dir(out)
        with run.phase("timed"), run.repetition(items=inputs["records"]) as rep:
            rep["ok"] = _etl_once(run, inputs, out)
        if rep["ok"]:
            _etl_check(run, inputs["expected"], out)
        run.reset_caches()


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


def near_corpus(docs):
    """The registered streaming query's corpus: every document plus a
    10-word-truncated copy (id + 1,000,000) of each 50th document of at
    least 20 words, in ingest (ascending id) order."""
    import pandas as pd

    words = docs["text"].str.split(" ")
    pick = (docs["doc_id"] % 50 == 0) & (words.str.len() >= 20)
    dups = pd.DataFrame({
        "doc_id": docs.loc[pick, "doc_id"] + 1_000_000,
        "text": words[pick].map(lambda w: " ".join(w[:-10])),
    })
    return pd.concat([docs[["doc_id", "text"]], dups]).sort_values("doc_id", ignore_index=True)


class _Ingest:
    """The near-duplicate ingest gate: a landed backlog of micro-batches,
    drained in ingest order through ``streaming.ops.lsh_dedup_batch``
    into a fresh band/shingle store, so each batch reads what the
    earlier ones wrote."""

    SCHEMA = "doc_id BIGINT, text STRING"

    def __init__(self, run: Run, size: str):
        import __spark_entry__ as entry

        self.run = run
        docs = gen.documents(run.seed + 1, INGEST_DOCS[size])
        corpus = near_corpus(docs)
        step = -(-len(corpus) // INGEST_BATCHES)
        self.batches = []
        for b in range(INGEST_BATCHES):
            path = os.path.join(run.work, "landing", f"batch={b}")
            os.makedirs(path)
            pq.write_table(
                pa.Table.from_pandas(corpus.iloc[b * step:(b + 1) * step], preserve_index=False),
                os.path.join(path, "part-0.parquet"),
            )
            self.batches.append(path)
        duck = _duck({"documents": pa.Table.from_pandas(docs, preserve_index=False)})
        self.expected = set(
            duck.execute(entry.oracle_sql()["streaming_lsh_dedup"]).df()["doc_id"]
        )
        duck.close()
        run.detail["ingest"] = {"documents": len(docs), "corpus": len(corpus),
                                "batches": INGEST_BATCHES, "expected_survivors": len(self.expected)}

    def drain(self, store: str) -> None:
        from movies_etl_spark.streaming import ops

        run, spark = self.run, self.run.spark
        trips = 0
        layer = "streaming.ops.lsh_dedup_batch"
        for b, path in enumerate(self.batches):
            t0 = time.perf_counter()
            with run.span(layer, _BATCH_KEYS):
                ok, _ = run.attempt(
                    ops.lsh_dedup_batch, spark, spark.read.schema(self.SCHEMA).parquet(path), b, store
                )
            if ok:
                run.latencies.append(time.perf_counter() - t0)
            elif not ok and GUARD_TEXT in run.detail["errors"][-1]:
                trips += 1
            run.reset_caches()
        run.scale_layer(f"{layer}.", 1 / len(self.batches))
        run.add_layer(f"{layer}.guard_trips", trips)
        size_b = files = 0
        for part in ("bands", "shingles"):
            s, f = probe.tree_size(os.path.join(store, part))
            size_b, files = size_b + s, files + f
        run.add_layer(f"{layer}.store_bytes", size_b)
        run.add_layer(f"{layer}.store_files", files)

    def check(self, store: str) -> None:
        run = self.run
        try:
            got = {r.doc_id for r in run.spark.read.parquet(f"{store}/out").collect()}
            run.check("ingest.survivors", got == self.expected)
        except Exception as exc:  # an unreadable output is a failed check
            run.detail.setdefault("errors", []).append(f"check: {exc}"[:500])
            run.check("ingest.survivors_readable", False)


def query_mix(run: Run, size: str = "full") -> None:
    import __spark_entry__ as entry
    from movies_etl_spark.plans.registry import QUERIES

    sf = QUERY_SF[size]
    sf_dir = os.path.join(run.work, "sf")
    os.makedirs(sf_dir, exist_ok=True)
    with run.phase("inputs"):
        tables = gen.tables(run.seed, sf)
        for name, table in tables.items():
            pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        ingest = _Ingest(run, size)
    run.detail["inputs"] = {"sf": sf, "rows": {k: t.num_rows for k, t in tables.items()}}
    oracles = entry.oracle_sql()
    normalize = _oracle_normalize()
    duck = _duck(tables)
    family = {name: fam for fam, names in POOL.items() for name in names}
    want = {name: normalize(duck.execute(oracles[name]).df()) for name in family}
    duck.close()
    pool = [*family, INGEST]
    rng = random.Random(run.seed)

    with run.phase("setup"):
        for _ in range(SETUP_STARTS):
            spark = run.start_session()
    # no warm-up: the first pass is the JVM's first, and every run makes
    # the same number of passes
    for _ in range(run.planned_reps(REP_S)):
        order = rng.sample(pool, len(pool))
        store = fresh_dir(os.path.join(run.work, "store"))
        got = {}
        with run.phase("timed"), run.repetition(items=len(family) + len(ingest.batches)):
            for name in order:
                if name == INGEST:
                    ingest.drain(store)
                    continue
                layer = f"plans.registry.{family[name]}"
                t0 = time.perf_counter()
                with run.span(layer, _BUILD_KEYS):
                    ok, df = run.attempt(QUERIES[name], spark, sf_dir)
                if ok:
                    with run.span(layer, _EXEC_KEYS):
                        ok, got[name] = run.attempt(df.toPandas)
                if ok:
                    run.latencies.append(time.perf_counter() - t0)
                run.reset_caches()
        # outside the timing: every result against its DuckDB oracle
        for name, frame in got.items():
            if frame is not None:
                run.check(f"oracle.{name}", _frames_equal(normalize(frame), want[name]))
        ingest.check(store)


WORKLOADS = {
    "etl_reference": etl_reference,
    "query_mix": query_mix,
}


def _oracle_normalize():
    """The oracle-parity test's frame normalisation."""
    path = os.path.join(harness.ROOT, "tests", "test_oracle_parity.py")
    spec = importlib.util.spec_from_file_location("_oracle_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._normalize


def _duck(tables: dict):
    import duckdb

    con = duckdb.connect()
    for name, table in tables.items():
        con.register(name, table)
    return con


def _frames_equal(got, want) -> bool:
    import pandas as pd

    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError:
        return False
    return True


