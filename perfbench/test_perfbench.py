"""Tests of the benchmark's own helpers, plus a smoke run of each
workload at smoke size.

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import harness
import probe

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# -- tail percentile --------------------------------------------------------


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, p, beyond = probe.tail(xs)
    assert (value, p, beyond) == (90.0, 90, 10)


def test_tail_with_thirty_samples():
    xs = [float(i) for i in range(30, 0, -1)]  # order must not matter
    value, p, beyond = probe.tail(xs)
    assert p == 66 and beyond == 10 and value == 20.0


def test_tail_falls_back_to_median_below_twenty_samples():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0, 100.0]
    value, p, beyond = probe.tail(xs)
    assert p == 50 and value == 3.5 and beyond == 3


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        probe.tail([])


# -- failed ratio -----------------------------------------------------------


def test_failed_ratio():
    assert probe.failed_ratio(10, 0) == 0.0
    assert probe.failed_ratio(8, 2) == 0.25
    for attempted, failed in ((0, 0), (3, 4), (3, -1)):
        with pytest.raises(ValueError):
            probe.failed_ratio(attempted, failed)


# -- repetition count -------------------------------------------------------


def test_planned_reps_depend_on_seconds_only():
    def reps(seconds):
        return harness.Run("w", 1, seconds, False, "unused").planned_reps(20)

    assert [reps(s) for s in (1, 20, 40, 60, 70, 100)] == [2, 2, 2, 3, 4, 5]


# -- status-store walk --------------------------------------------------------


class _Seq(list):
    def size(self):
        return len(self)

    def apply(self, i):
        return self[i]


class _Job:
    def __init__(self, job_id, stage_ids):
        self._id, self._stages = job_id, _Seq(stage_ids)

    def jobId(self):
        return self._id

    def stageIds(self):
        return self._stages


class _Stage:
    def __init__(self, status, tasks, cpu_ns, in_b=0, out_b=0, sw=0, sr=0, spill=0):
        self.v = dict(status=status, tasks=tasks, cpu=cpu_ns, in_b=in_b, out_b=out_b,
                      sw=sw, sr=sr, spill=spill)

    def status(self):
        return self.v["status"]

    def numTasks(self):
        return self.v["tasks"]

    def executorCpuTime(self):
        return self.v["cpu"]

    def executorRunTime(self):
        return self.v["cpu"] // 1_000_000

    def jvmGcTime(self):
        return 1

    def inputBytes(self):
        return self.v["in_b"]

    def outputBytes(self):
        return self.v["out_b"]

    def shuffleReadBytes(self):
        return self.v["sr"]

    def shuffleWriteBytes(self):
        return self.v["sw"]

    def memoryBytesSpilled(self):
        return self.v["spill"]

    def diskBytesSpilled(self):
        return 0


class _Store:
    """Mimics AppStatusStore: ``jobsList`` is newest first."""

    def __init__(self, jobs, stages):
        self.jobs, self.stages = jobs, stages

    def jobsList(self, _statuses):
        return _Seq(sorted(self.jobs, key=lambda j: -j.jobId()))

    def lastStageAttempt(self, sid):
        return self.stages[sid]


def test_status_delta_counts_jobs_between_marks_without_skipped_stages():
    stages = {
        0: _Stage("COMPLETE", 4, 1_000_000_000, in_b=100),
        1: _Stage("COMPLETE", 4, 2_000_000_000, sw=50),
        2: _Stage("COMPLETE", 1, 500_000_000, sr=50, out_b=30),
        3: _Stage("SKIPPED", 4, 0),  # re-used shuffle output: not counted
        4: _Stage("COMPLETE", 2, 250_000_000, spill=7),
    }
    store = _Store([_Job(0, [0])], stages)
    sp = probe.StatusProbe(store=store)
    mark = sp.mark()
    assert mark == 0
    store.jobs += [_Job(1, [1, 2]), _Job(2, [1, 3, 4])]  # stage 1 shared
    c = sp.since(mark)
    assert c.jobs == 2
    assert c.stages == 3 and c.tasks == 4 + 1 + 2
    assert c.executor_cpu_s == pytest.approx(2.75)
    assert (c.input_bytes, c.output_bytes) == (0, 30)
    assert (c.shuffle_read_bytes, c.shuffle_write_bytes, c.spill_bytes) == (50, 50, 7)
    assert sp.since(sp.mark()).jobs == 0


def test_status_mark_before_any_job():
    assert probe.StatusProbe(store=_Store([], {})).mark() == -1


# -- metric names -----------------------------------------------------------


def test_benchmark_json_matches_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == harness.END_TO_END
    assert layer == harness.PER_LAYER
    assert len(layer) <= 128
    assert {w["name"] for w in bench["workloads"]} == {"etl_reference", "query_mix"}


def test_git_tree_id_matches_git():
    path = os.path.join(ROOT, "movies_etl_spark")
    try:
        dirty = subprocess.run(
            ["git", "status", "--porcelain", "--", "movies_etl_spark"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout.strip()
        want = subprocess.run(
            ["git", "rev-parse", "HEAD:movies_etl_spark"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        pytest.skip("not a git checkout")
    if dirty:
        pytest.skip("engine sources have uncommitted changes")
    assert harness.git_tree_id(path) == want


# -- whole runs -------------------------------------------------------------


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload", ["etl_reference", "query_mix"])
def test_smoke_run(workload):
    proc = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
                "--trace", "1", "--size", "small")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(harness.PER_LAYER)
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_fails_without_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(str(tmp_path), "--workload", "query_mix", "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
