"""SparkSession construction tuned for the engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions sized to cores (not the 200 default), AQE enabled for runtime
re-planning (coalescing post-shuffle partitions, skew-join splitting),
Arrow enabled for any Pandas-UDF path, and a pinned UTC session timezone
so results compare bit-for-bit against external oracles (DuckDB is
UTC-naive).

One codec, zstd (:data:`COMPRESSION_CODEC`), compresses everything the
engine stores or moves: the parquet it writes, and through
``spark.io.compression.codec`` every shuffle map output, spill file and
torrent-broadcast block. Shuffle is most of what a short query writes
(the quantile sketch's rank window, the dedup and similarity joins), and
zstd at Spark's default level 1 roughly halves those bytes against the
lz4 default for about the same CPU. The block codec is a SparkContext
(static) conf: only a session this builder creates gets it.
:func:`pin_session_conf` re-pins the runtime confs on a session built
elsewhere (a driver harness's ``getOrCreate()``), and such a session
keeps its own block codec.

One storage format: zstd pages holding timestamps as INT64 microseconds
adjusted to UTC (:data:`PARQUET_TIMESTAMP_TYPE`), not Spark's default
INT96. INT96 is a deprecated 12-byte encoding that Spark writes without
min/max statistics, and that pyarrow decodes wrongly outside 1677-2262
(year 1 reads back as 1754), so an instant inside
``functions.expr.UNIX_SECONDS_MIN``/``MAX`` would not survive the round
trip. The int64 column is smaller as well: the ratings sink's timestamp
column takes 29 % fewer bytes on the benchmark's seeded 50,000-row
input (``perfbench/``). Spark reads both encodings as
``timestamp``, so tables and stores written as INT96 stay readable. The
conf is runtime-settable, so :func:`pin_session_conf` applies it to a
session built elsewhere too.

At cluster scale the same builder applies; only `master` and the memory
knobs change. Every query in this engine is declarative, so moving from
local[N] to a 1000-executor cluster changes the physical plan (Catalyst
re-picks join strategies from real statistics) but not the code.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
COMPRESSION_CODEC = "zstd"
PARQUET_TIMESTAMP_TYPE = "TIMESTAMP_MICROS"


@contextlib.contextmanager
def temp_confs(spark: SparkSession, confs: dict[str, str]):
    """Set runtime confs for the duration of a block, restoring TRUE
    prior state on exit.

    Prior state is read with no fallback default: a conf Spark can
    resolve (user-set or engine default) restores by ``set``; a conf
    with NO resolvable value (unset, no SQLConf default) restores by
    ``unset``. The old per-site pattern — ``conf.get(key, <assumed
    default>)`` then ``set`` in finally — pinned unset confs to a
    hard-coded guess that silently diverges if a Spark upgrade or the
    hosting session changes the real default.

    Only the SPECIFIC cannot-resolve error maps to "unset" — a transient
    ``conf.get`` failure (py4j hiccup) on a user-set conf must propagate,
    not silently schedule an unset of the user's value; and the apply
    loop itself is rollback-protected, so a ``set`` failing mid-loop
    restores the keys already applied. On PySpark builds
    without ``SparkNoSuchElementException`` the classifier matches the
    Py4J-wrapped ``java.util.NoSuchElementException`` by class name
    rather than re-widening to every exception."""
    prior: dict[str, str | None] = {}
    applied: list[str] = []

    def _restore() -> None:
        for key in reversed(applied):
            prev = prior[key]
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)

    try:
        for key, value in confs.items():
            try:
                prior[key] = spark.conf.get(key)
            except Exception as exc:
                if _is_unset_conf_error(exc):
                    prior[key] = None
                else:
                    raise
            spark.conf.set(key, value)
            applied.append(key)
    except BaseException:
        _restore()
        raise
    try:
        yield
    finally:
        _restore()


def _is_unset_conf_error(exc: Exception) -> bool:
    """True iff ``exc`` is the specific "conf has no resolvable value"
    error from ``spark.conf.get`` — the only error temp_confs may map to
    "restore by unset". Modern PySpark raises the typed
    ``SparkNoSuchElementException``; older builds surface the raw
    Py4J-wrapped ``java.util.NoSuchElementException``, identified here
    by the wrapped Java class name (never by catching bare Exception,
    which would classify a transient py4j failure as "unset" and
    schedule the silent removal of a user-set value)."""
    try:
        from pyspark.errors import SparkNoSuchElementException
    except ImportError:
        SparkNoSuchElementException = None  # type: ignore[assignment]
    if SparkNoSuchElementException is not None and isinstance(
        exc, SparkNoSuchElementException
    ):
        return True
    jexc = getattr(exc, "java_exception", None)  # Py4JJavaError shape
    if jexc is not None:
        try:
            return (
                jexc.getClass().getName()
                == "java.util.NoSuchElementException"
            )
        except Exception:
            return False
    return False


def get_spark(
    app_name: str = "movies_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Safe to call when a session already exists (e.g. under the driver
    harness): ``getOrCreate`` reuses it, and :func:`pin_session_conf`
    re-asserts the runtime-settable confs the engine relies on.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # allow shuffled hash join where its size
        # conditions hold (public tuning guidance §3.1 — SMJ's sort is
        # pure overhead when one side's per-partition build fits memory;
        # AQE's OptimizeSkewedJoin still covers the skew case). Measured
        # interleaved at sf0.1: triangle_count 6.1→4.9 s, cms_join_size
        # 5.9→4.9 s, dedup_minhash_lsh 3.7→3.1 s, no regressions.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # zstd for engine-written parquet (scratch indexes, sinks,
        # stream landing zones): better ratio than snappy at similar
        # speed (guide §6); measured neutral-to-faster on the
        # write-heavy queries locally, and strictly fewer bytes at scale.
        .config("spark.sql.parquet.compression.codec", COMPRESSION_CODEC)
        # The same codec for shuffle map outputs, spill files and
        # broadcast blocks (lz4 by default), at Spark's zstd defaults
        # (level 1, buffer pool on). Static: a session built elsewhere
        # keeps its own codec, and pin_session_conf cannot change it.
        .config("spark.io.compression.codec", COMPRESSION_CODEC)
        # INT64 UTC-adjusted microseconds with min/max statistics, not
        # the legacy INT96 default (module docstring).
        .config("spark.sql.parquet.outputTimestampType", PARQUET_TIMESTAMP_TYPE)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    pin_session_conf(spark)
    return spark


def pin_session_conf(spark: SparkSession) -> SparkSession:
    """Re-assert runtime-settable confs on an externally built session.

    The driver harness hands us its own SparkSession; these settings are
    the ones correctness depends on (UTC timestamps for oracle parity,
    AQE for sane local plans) and the storage format of the parquet the
    engine writes. All are runtime-settable. The shuffle, spill and
    broadcast codec is not: such a session keeps its own.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # Perf, not correctness — but runtime-settable and cheap: an
    # externally built session carries Spark's 200-partition default,
    # which at test SF means hundreds of near-empty tasks per shuffle
    # (AQE coalesces the partitions but the initial plan still schedules
    # them). Replace ONLY the untouched stock default, and only ONCE per
    # session (the sentinel conf records that the decision was made): a
    # harness that deliberately re-tunes to 200 AFTER the first pin is no
    # longer clobbered on subsequent pin calls.
    already_decided = (
        spark.conf.get("spark.movies_etl.shufflePinned", "") == "1"
    )
    # Uniform perf-pin opt-out: a harness that
    # deliberately set the STOCK values (200 partitions, SMJ preferred,
    # snappy, INT96) before the first pin is indistinguishable from an
    # untouched default, so it can declare the intent up front —
    # SPARK_GRAFT_KEEP_SESSION_CONFS=1 skips every perf pin below
    # (documented in SCALE.md).
    keep_all = os.environ.get("SPARK_GRAFT_KEEP_SESSION_CONFS") == "1"
    if (
        not already_decided
        and not keep_all
        and spark.conf.get("spark.sql.shuffle.partitions", "200") == "200"
    ):
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS)
        )
    # perf defaults (same once-per-session discipline as the shuffle
    # pin: replace only the untouched stock default, so a harness that
    # deliberately re-tunes after the first pin is never clobbered).
    # Rationale + measurements in get_spark above / OPTIMIZATION_r18.md.
    if not already_decided and not keep_all:
        if spark.conf.get("spark.sql.join.preferSortMergeJoin", "true") == "true":
            spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
        if (
            spark.conf.get("spark.sql.parquet.compression.codec", "snappy")
            == "snappy"
        ):
            spark.conf.set(
                "spark.sql.parquet.compression.codec", COMPRESSION_CODEC
            )
        if (
            spark.conf.get("spark.sql.parquet.outputTimestampType", "INT96")
            == "INT96"
        ):
            spark.conf.set(
                "spark.sql.parquet.outputTimestampType", PARQUET_TIMESTAMP_TYPE
            )
    spark.conf.set("spark.movies_etl.shufflePinned", "1")
    # Early testdata generations stored events.ts as TIMESTAMP(NANOS),
    # which Spark's parquet reader rejects by default; read nanos as long
    # and convert explicitly (sources.readers.load_table normalizes the
    # column). Harmless for µs-encoded data, where the conf is a no-op.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark
