"""One benchmark run: session lifecycle, attempts, spans and the result.

A :class:`Run` owns the Spark session of one workload process. It starts
sessions (each start in a running JVM is a set-up sample), counts attempted and failed
operations, keeps latency samples, and in a traced run records a span
around each call into an engine layer: wall time plus the status-store
counters of the jobs the call launched.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import time
import traceback
from collections import defaultdict

import probe

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PIPELINE_STEPS = ("clean_wiki", "clean_kaggle", "clean_ratings", "merge_movies", "movies_with_ratings")
SINK_TABLES = ("movies", "movies_ratings", "ratings")
FAMILIES = ("relational", "expr", "sketch", "curation", "similarity")

_READER = ("call_s", "jobs", "stages", "tasks", "executor_cpu_s", "input_bytes")
_PIPELINE = ("call_s", "jobs", "stages", "executor_cpu_s", "input_bytes")
_SINK = ("call_s", "jobs", "stages", "tasks", "executor_cpu_s", "input_bytes", "output_bytes", "shuffle_write_bytes")
_REGISTRY = ("build_s", "build_jobs", "exec_s", "jobs", "stages", "tasks", "executor_cpu_s",
             "jvm_gc_s", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes")
_BATCH = ("call_s", "jobs_per_batch", "stages_per_batch", "tasks_per_batch", "executor_cpu_s",
          "jvm_gc_s", "input_bytes_per_batch", "output_bytes_per_batch",
          "shuffle_write_bytes_per_batch", "spill_bytes_per_batch", "store_bytes", "store_files",
          "guard_trips")

#: end-to-end metrics: name → unit (every workload reports all of them).
#: Wall times are not among them: on a shared virtual machine they follow
#: the host's load (hypervisor steal), so they go to the ``detail`` line.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "executor_cpu_s": "s",
    "peak_rss_mb": "MB",
    "bytes_written_per_input_byte": "ratio",
    "ok_ratio": "ratio",
}


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if "bytes" in last:
        return "bytes"
    return "count"


def per_layer_names() -> list[str]:
    names = [
        "session.get_spark_s",
        "driver.python_cpu_s",
        "driver.jvm_gc_s",
        "driver.jit_cpu_s",
        "operators.caching.live_checkpoints_max",
    ]
    names += [f"sources.readers.{c}" for c in _READER]
    names += [f"plans.pipeline.{f}.{c}" for f in PIPELINE_STEPS for c in _PIPELINE]
    names += [f"sources.sinks.write_parquet.{t}.{c}" for t in SINK_TABLES for c in _SINK]
    names += [f"plans.registry.{f}.{c}" for f in FAMILIES for c in _REGISTRY]
    names += [f"streaming.ops.lsh_dedup_batch.{c}" for c in _BATCH]
    return names


#: per-layer metrics: name → unit
PER_LAYER = {name: _unit(name) for name in per_layer_names()}


def git_tree_id(path: str) -> str:
    """The git tree id of a source directory, computed from its files
    (the checkout the benchmark runs in is not a git repository).
    Byte-compiled caches are skipped, as the repository ignores them."""
    entries = []
    for name in os.listdir(path):
        full = os.path.join(path, name)
        if name == "__pycache__" or name.endswith(".pyc"):
            continue
        if os.path.isdir(full):
            entries.append((name + "/", b"40000", name, bytes.fromhex(git_tree_id(full))))
        else:
            with open(full, "rb") as f:
                data = f.read()
            blob = hashlib.sha1(b"blob %d\0" % len(data) + data).digest()
            mode = b"100755" if os.access(full, os.X_OK) else b"100644"
            entries.append((name, mode, name, blob))
    body = b"".join(
        mode + b" " + name.encode() + b"\0" + digest
        for _key, mode, name, digest in sorted(entries)
    )
    return hashlib.sha1(b"tree %d\0" % len(body) + body).hexdigest()


class Run:
    """State of one workload run. ``seconds`` sets how many timed
    repetitions it makes (:meth:`planned_reps`)."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.spark = None
        self.status = None
        self.driver = None
        self.setups: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.check_failures: list[str] = []
        self.latencies: list[float] = []
        self.reps: list[dict] = []
        # per-layer samples: name → one value per repetition
        self.layer: dict[str, list[float]] = defaultdict(list)
        self._rep_layer: dict[str, float] = defaultdict(float)
        self.live_checkpoints_max = 0
        self.detail: dict = {}

    # -- sessions ----------------------------------------------------------

    def stop_session(self) -> None:
        from movies_etl_spark.operators import caching

        if self.spark is not None:
            caching.release_tracked()
            self.spark.stop()
            self.spark = None

    def start_session(self):
        """Stop the current session and start a fresh one with
        ``get_spark``. Each start in a running JVM is one set-up sample:
        the CPU time it costs, JIT compiler threads left out, as they
        compile in the background for earlier work. The first start also
        launches the JVM; its wall time goes to the run details."""
        from movies_etl_spark.session import get_spark

        self.stop_session()
        cpu0 = self.driver.cpu_s() - self.driver.jit_cpu_s() if self.driver else None
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # keep the JVM's temp files, and its perf-data file (which
                # would go to /tmp), out of the file system outside the run;
                # commit and touch the whole heap at launch, so the heap's
                # share of peak_rss_mb does not follow how far the
                # collector happened to grow it; keep every JIT compiler
                # thread alive, so Driver.jit_cpu_s loses none of their time
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData"
                    f" -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
                    " -XX:-UseDynamicNumberOfCompilerThreads"
                ),
            },
        )
        elapsed = time.perf_counter() - t0
        self.layer["session.get_spark_s"].append(elapsed)
        self.spark = spark
        self.status = probe.StatusProbe(spark)
        if self.driver is None:
            self.driver = probe.Driver(spark)
            self.detail["jvm_launch_s"] = elapsed
        else:
            self.setups.append(self.driver.cpu_s() - self.driver.jit_cpu_s() - cpu0)
        conf = spark.sparkContext.getConf()
        self.detail["session"] = {
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": conf.get("spark.driver.memory", ""),
        }
        return spark

    def shutdown(self) -> None:
        """Stop the session, the JVM and every process the JVM started,
        and wait for each to end."""
        from pyspark import SparkContext

        pids: list[int] = []
        gateway = SparkContext._gateway
        if gateway is not None:
            with contextlib.suppress(Exception):
                handles = gateway.jvm.java.lang.ProcessHandle.current().descendants().toArray()
                pids = [int(h.pid()) for h in handles]
        with contextlib.suppress(Exception):
            self.stop_session()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        with contextlib.suppress(Exception):
            gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        for pid in pids:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, 9)

    # -- operations --------------------------------------------------------

    def attempt(self, fn, *args, **kwargs):
        """Run one operation; an exception counts it as failed and
        returns ``(False, None)`` instead of stopping the run."""
        self.attempted += 1
        try:
            return True, fn(*args, **kwargs)
        except Exception as exc:  # counted and reported, never fatal
            self.failed += 1
            self.detail.setdefault("errors", []).append(
                traceback.format_exception_only(type(exc), exc)[-1].strip()[:500]
            )
            return False, None

    def check(self, name: str, ok: bool) -> None:
        """Record one output check as an attempted operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.check_failures.append(name)

    def reset_caches(self) -> None:
        """Keep repetitions independent: drop tracked and cached frames."""
        from movies_etl_spark.operators import caching

        caching.release_tracked()
        self.spark.catalog.clearCache()
        self.live_checkpoints_max = max(self.live_checkpoints_max, caching.live_checkpoints())

    @contextlib.contextmanager
    def span(self, name: str, keys: dict[str, tuple[str, ...]] | None = None):
        """Time a call into one layer; in a traced run also add the
        counters of the jobs it launched to the repetition's totals.
        ``keys`` maps a measured counter (``call_s`` or one of
        :data:`probe.COUNTERS`) to the metric suffixes it adds to; by
        default every counter adds to ``<name>.<counter>``."""
        if not self.trace:
            yield
            return
        mark = self.status.mark()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            elapsed = time.perf_counter() - t0
            c = self.status.since(mark)
            values = {"call_s": elapsed, **{k: getattr(c, k) for k in probe.COUNTERS}}
            for k, suffixes in (keys or {k: (k,) for k in values}).items():
                for suffix in suffixes:
                    self._rep_layer[f"{name}.{suffix}"] += values[k]

    @contextlib.contextmanager
    def phase(self, name: str):
        """Record how long one phase of the run took (run details only)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            phases = self.detail.setdefault("phases_s", {})
            phases[name] = round(phases.get(name, 0.0) + time.perf_counter() - t0, 3)

    def add_layer(self, name: str, value: float) -> None:
        self._rep_layer[name] += value

    def scale_layer(self, prefix: str, factor: float) -> None:
        """Scale the repetition's totals under ``prefix`` (per-batch means)."""
        for k in self._rep_layer:
            if k.startswith(prefix):
                self._rep_layer[k] *= factor

    # -- repetitions -------------------------------------------------------

    def planned_reps(self, rep_s: float) -> int:
        """How many repetitions fill ``seconds``, at ``rep_s`` seconds
        each on a 4-CPU machine, and at least two. The count depends on
        ``seconds`` alone, so every run of a workload does the same work
        and its CPU totals compare like with like; a repetition count
        that followed the clock would weigh the cold first repetition
        differently on a slower host."""
        return max(2, round(self.seconds / rep_s))

    @contextlib.contextmanager
    def repetition(self, items: int):
        """One timed repetition. Yields a dict the body fills; wall time,
        CPU and byte counters are recorded when the body ends."""
        rep = {"items": items, "ok": True}
        self._rep_layer = defaultdict(float)
        mark = self.status.mark()
        cpu0, gc0 = time.process_time(), self.driver.jvm_gc_s()
        all0, jit0 = self.driver.cpu_s(), self.driver.jit_cpu_s()
        t0 = time.perf_counter()
        yield rep
        rep["wall_s"] = time.perf_counter() - t0
        rep["cpu_s"] = self.driver.cpu_s() - all0
        rep["jit_cpu_s"] = self.driver.jit_cpu_s() - jit0
        rep["python_cpu_s"] = time.process_time() - cpu0
        rep["jvm_gc_s"] = self.driver.jvm_gc_s() - gc0
        c = self.status.since(mark)
        rep["executor_cpu_s"] = c.executor_cpu_s
        rep["read_bytes"] = c.input_bytes
        rep["written_bytes"] = c.output_bytes + c.shuffle_write_bytes
        self.reps.append(rep)
        self.layer["driver.python_cpu_s"].append(rep["python_cpu_s"])
        self.layer["driver.jvm_gc_s"].append(rep["jvm_gc_s"])
        self.layer["driver.jit_cpu_s"].append(rep["jit_cpu_s"])
        for k, v in self._rep_layer.items():
            self.layer[k].append(v)

    # -- result ------------------------------------------------------------

    def result(self) -> dict:
        reps = self.reps
        lat = self.latencies or [r["wall_s"] for r in reps if r["ok"]]
        tail_v, tail_p, beyond = probe.tail(lat) if lat else (0.0, 50, 0)
        read = sum(r["read_bytes"] for r in reps)
        e2e = {
            "setup_s": probe.median(self.setups),
            "cpu_s": probe.mean([r["cpu_s"] for r in reps]),
            "executor_cpu_s": probe.mean([r["executor_cpu_s"] for r in reps]),
            "peak_rss_mb": self.driver.peak_rss_mb(),
            "bytes_written_per_input_byte": sum(r["written_bytes"] for r in reps) / max(read, 1),
            "ok_ratio": 1.0 - probe.failed_ratio(self.attempted, self.failed),
        }
        wall = {
            "wall_s": probe.mean([r["wall_s"] for r in reps]),
            "items_per_s": sum(r["items"] for r in reps) / max(sum(r["wall_s"] for r in reps), 1e-9),
            "latency_p50_s": probe.median(lat),
            "latency_tail_s": tail_v,
        }
        self.layer["operators.caching.live_checkpoints_max"] = [self.live_checkpoints_max]
        self.detail.update({
            "workload": self.workload,
            "seed": self.seed,
            "trace": int(self.trace),
            "engine_tree": git_tree_id(os.path.join(ROOT, "movies_etl_spark")),
            "repetitions": len(reps),
            "latency_samples": len(lat),
            "tail_percentile": tail_p,
            "tail_samples_beyond": beyond,
            "setup_cpu_samples": [round(s, 4) for s in self.setups],
            "reps": [{k: round(v, 4) for k, v in r.items() if k in ("wall_s", "cpu_s", "jit_cpu_s", "executor_cpu_s")}
                     for r in reps],
            "failed_ratio": probe.failed_ratio(self.attempted, self.failed),
            "check_failures": self.check_failures,
            "end_to_end": e2e,
            "wall": wall,
        })
        if self.trace:
            metrics = {
                name: {"value": probe.median(self.layer.get(name, [])), "unit": unit}
                for name, unit in PER_LAYER.items()
            }
        else:
            metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END.items()}
        return {
            "correct": not self.check_failures and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path
