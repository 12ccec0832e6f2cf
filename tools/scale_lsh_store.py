#!/usr/bin/env python
"""Store-side 100× scale row for streaming_lsh_dedup (VERDICT r13 #5).

The suite's scale_curves row scales the CORPUS 10× — but a streaming
ingest dedup's batches stay micro-batch-sized at any corpus scale; what
grows without bound is the ACCUMULATED band/shingle index the per-batch
plan reads. This harness measures exactly that axis: a FIXED 500-doc
micro-batch processed by the exact shipped per-batch plan
(``streaming.ops.lsh_dedup_batch`` — the foreachBatch body, extracted
r14) against pre-built stores at 1×/10×/100× (4k/40k/400k docs), and
reports the per-batch wall and the 1→10 / 10→100 log-log segment
slopes.

Fixture: store docs are deterministic ~40-token texts, unique per id
(see ``synth_docs``); the batch is half exact copies of store
docs (ids shifted above every store id, so the smaller-id drop rule
fires and Jaccard verify does real work) and half novel docs. Per rep,
the batch's own batch=1 output dirs are removed so every rep runs the
identical read-join-verify-write cycle; MIN of reps is reported (work,
not contention).

Usage: python tools/scale_lsh_store.py [--sizes 4000,40000,400000]
       [--batch 500] [--reps 3]
"""
from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(1, os.path.dirname(os.path.abspath(__file__)))

import _cli  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from movies_etl_spark.operators import dedup as D  # noqa: E402
from movies_etl_spark.session import get_spark  # noqa: E402
from movies_etl_spark.streaming import ops  # noqa: E402

WORK = f"/tmp/scale_lsh_store/{os.getpid()}"
BATCH_ID_OFFSET = 10_000_000_000  # batch ids sit above every store id


def synth_docs(spark, lo: int, hi: int):
    """Deterministic ~40-token docs, UNIQUE per id (r14 continuation
    fix): the first committed axis used the store-prune A/B generator
    (token values = id·(j+7) mod 997), whose texts depend only on
    id mod 997 — so the store carried exact-duplicate families of
    ~n/997 docs (a survivor store is near-dup-free by construction;
    candidates per batch doc grew WITH store size, confounding the
    scan-term reading) and the "novel" batch half were copies too
    (betrayed by n_dropped = 500, not 250, in the first committed
    rows). Mixing id//997 into every token value makes texts unique
    per id while the dup half (re-synthesized from the SAME ids) stays
    exact copies; random cross-id shingle overlap is negligible, so
    band buckets hold only the planted families — the production
    store shape."""
    hi_part = (F.col("id") / F.lit(997)).cast("long")
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit(f"w{j}_"),
                    (
                        (F.col("id") * (j + 7) + hi_part * (j * 31 + 5))
                        % 99_991
                    ),
                    F.lit("_"),
                    (hi_part * (j + 13)) % 9_973,
                )
                for j in range(40)
            ],
        ).alias("text"),
    )


def build_store(spark, n_store: int, batch_rows: int) -> str:
    """Store at batch=0 (bands + shingles of n_store docs) plus the
    fixed batch parquet: half exact copies of the store's LAST
    batch_rows/2 docs (id += BATCH_ID_OFFSET → smaller-id partner
    exists), half novel ids past the store."""
    base = f"{WORK}/n{n_store}"
    shutil.rmtree(base, ignore_errors=True)
    docs = synth_docs(spark, 0, n_store)
    sh = D.shingled(docs, "text", "doc_id")
    sh.write.mode("overwrite").parquet(f"{base}/shingles/batch=0")
    D.with_minhash_bands(sh, "doc_id").write.mode("overwrite").parquet(
        f"{base}/bands/batch=0"
    )
    half = batch_rows // 2
    dups = synth_docs(spark, n_store - half, n_store).select(
        (F.col("doc_id") + F.lit(BATCH_ID_OFFSET)).alias("doc_id"), "text"
    )
    novel = synth_docs(
        spark, n_store + 1_000_000, n_store + 1_000_000 + (batch_rows - half)
    ).select((F.col("doc_id") + F.lit(BATCH_ID_OFFSET)).alias("doc_id"), "text")
    dups.unionByName(novel).coalesce(1).write.mode("overwrite").parquet(
        f"{base}/batchdocs"
    )
    return base


def main() -> None:
    vals, _ = _cli.parse_args(
        sys.argv[1:],
        {"--sizes": str, "--batch": int, "--reps": int},
        "usage: scale_lsh_store.py [--sizes a,b,c] [--batch N] [--reps N]",
    )
    sizes = [
        int(s) for s in vals.get("sizes", "4000,40000,400000").split(",")
    ]
    batch_rows = vals.get("batch", 500)
    reps = vals.get("reps", 3)

    spark = get_spark(app_name="scale_lsh_store")
    spark.range(1).count()

    walls: dict[int, float] = {}
    jobs: dict[int, int] = {}
    dropped: dict[int, int] = {}
    for n in sizes:
        base = build_store(spark, n, batch_rows)
        batch_df = spark.read.parquet(f"{base}/batchdocs")
        best = None
        for _ in range(reps):
            for kind in ("out", "bands", "shingles"):
                shutil.rmtree(f"{base}/{kind}/batch=1", ignore_errors=True)
            spark._jvm.System.gc()
            j0 = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
            t0 = time.perf_counter()
            ops.lsh_dedup_batch(spark, batch_df, 1, base)
            w = time.perf_counter() - t0
            j1 = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
            if best is None or w < best:
                best, jobs[n] = w, j1 - j0
        walls[n] = round(best, 3)
        surv = spark.read.parquet(f"{base}/out/batch=1").count()
        dropped[n] = batch_rows - surv
        # the planted duplicate half must drop: fewer means the verify
        # stage measured nothing; many MORE means the "novel" half
        # wasn't novel (the defect the r14 continuation fixed — the old
        # generator's texts depended only on id mod 997, so every
        # committed row read n_dropped = 500). A tiny over-band
        # tolerates accidental cross-id shingle collisions (rare but
        # not impossible; ADVICE r14 #3) — a collision is FLAGGED on
        # the row instead of aborting the whole measurement run.
        half = batch_rows // 2
        tol = max(2, batch_rows // 100)
        assert half <= dropped[n] <= half + tol, (
            f"store n={n}: {dropped[n]} dropped, want [{half}, "
            f"{half + tol}] — fixture broken"
        )
        if dropped[n] != half:
            print(
                f"# WARN store n={n}: {dropped[n] - half} extra drops "
                "(accidental near-dup collision) — row flagged, run "
                "continues",
                flush=True,
            )
        # ADVICE r15 #4: the collision flag travels WITH the JSON row
        # (extra_drops > 0), not only as a stderr-style '# WARN' line a
        # machine consumer of the JSONL stream never sees.
        print(
            json.dumps(
                {"n_store": n, "wall_sec": walls[n], "jobs": jobs[n],
                 "n_dropped": dropped[n],
                 "extra_drops": dropped[n] - half}
            ),
            flush=True,
        )
    if len(sizes) >= 3:
        s10 = math.log(walls[sizes[1]] / walls[sizes[0]]) / math.log(
            sizes[1] / sizes[0]
        )
        s100 = math.log(walls[sizes[2]] / walls[sizes[1]]) / math.log(
            sizes[2] / sizes[1]
        )
        print(
            json.dumps(
                {
                    "query": "streaming_lsh_dedup (store-side, fixed batch)",
                    "batch_rows": batch_rows,
                    "walls": walls,
                    "slope_store_1_10": round(s10, 3),
                    "slope_store_10_100": round(s100, 3),
                }
            )
        )
    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
