"""Readers: parquet / CSV / semi-structured JSON, with explicit schemas.

Reference behaviors covered (SURVEY.md §2.1):
  S1 scan_json          — semi-structured JSON array with ragged per-record
                          keys (reference: ``json.load`` at challenge.py:24-25)
                          → ``spark.read.json(multiLine=True)``; schema is the
                          union of keys, absent keys become nulls.
  S2/S3 scan_csv        — header CSV with whole-file dtype inference
                          (challenge.py:26-27, ``low_memory=False``) →
                          explicit schema when known (prod), else
                          ``inferSchema=True``.
  S7 error-checked open — FileNotFoundError → message + re-raise
                          (challenge.py:23-30) → AnalysisException wrapper.

Scale notes: parquet scans get predicate pushdown + column pruning from
Catalyst for free; JSON/CSV scans are splittable per-file (multiLine JSON
is not splittable — at 100 TB the ingest contract is "many files", each
read in parallel, which `spark.read.json(dir)` already does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.utils import AnalysisException

# Driver-generated test tables (TESTDATA.md).
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class SourceNotFoundError(FileNotFoundError):
    """Raised when a scan target does not exist (reference: challenge.py:28-30)."""


def _wrap_not_found(fn, path: str):
    try:
        return fn()
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            raise SourceNotFoundError(f"source not found: {path}") from exc
        raise


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table as parquet (columnar scan, pushdown-capable).

    ``events.ts`` has shipped in two parquet encodings across testdata
    generations: TIMESTAMP(NANOS), which Spark reads only as a
    nanos-since-epoch long (``spark.sql.legacy.parquet.nanosAsLong``, set
    in session.pin_session_conf) and is normalized here via integer
    division (a double division would lose precision above 2^53 ns); and
    TIMESTAMP(MICROS) with no timezone marker, which Spark 4 reads as
    TIMESTAMP_NTZ and needs no normalization (queries that do epoch math
    cast it to TIMESTAMP themselves — UTC session, value-preserving)."""
    path = f"{sf_dir}/{name}.parquet"
    df = _wrap_not_found(lambda: spark.read.parquet(path), path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def read_json_records(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    multiline: bool = True,
) -> DataFrame:
    """S1: semi-structured JSON array → DataFrame with union-of-keys schema.

    ``multiline=True`` handles a single top-level JSON array (the reference's
    input shape); JSON-lines files set it False and stay splittable.

    Known cost, not yet fixed: under Spark 4.1's default
    ``spark.sql.json.enableExactStringParsing``, every array-valued cell
    in a string-typed column re-opens the file for a positioned read of
    its raw text. clean_wiki over a 527 KB wiki file reads 20.3 MB that
    way (1.1 MB with the option off), about 0.2-0.4 s more executor CPU
    per pass on 4 vCPUs. Turning it off also re-renders list cells
    (``["A", "B"]`` → ``["A","B"]``), and it would shrink perfbench
    etl_reference's input-byte denominator, so it waits for a change to
    that benchmark.
    """
    reader = spark.read.option("multiLine", "true" if multiline else "false")
    if schema is not None:
        reader = reader.schema(schema)
    return _wrap_not_found(lambda: reader.json(path), path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    infer: bool = False,
) -> DataFrame:
    """S2/S3: CSV scan. Explicit schema preferred; inference mirrors the
    reference's whole-file dtype inference (``low_memory=False``)."""
    reader = spark.read.option("header", "true" if header else "false")
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return _wrap_not_found(lambda: reader.csv(path), path)
