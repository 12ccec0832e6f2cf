"""``tools/query_profile.py`` records, run in-process on the fixture
session (a ``get_spark`` call from the tool would re-pin its confs)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

from perfbench.probe import COUNTERS

ROOT = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def runs(spark, sf_dir):
    spec = importlib.util.spec_from_file_location(
        "query_profile", ROOT / "tools" / "query_profile.py"
    )
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    records = tool.profile(spark, ["groupby_count", "dedup_minhash_lsh"], sf_dir, 2)
    by_name: dict[str, list[dict]] = {}
    for r in records:
        by_name.setdefault(r["name"], []).append(r)
    return by_name


def test_record_fields_are_counters_fields(runs):
    keys = {"name", "rep", "build_s", "build_jobs", "exec_s", *COUNTERS}
    keys |= {"resident_scans", "cached_scans"}
    for rs in runs.values():
        assert [r["rep"] for r in rs] == [0, 1]
        for r in rs:
            assert set(r) == keys


def test_groupby_count_scans_lineitem_once(runs):
    for r in runs["groupby_count"]:
        assert r["resident_scans"] == {
            "lineitem": 1, "orders": 0, "events": 0, "documents": 0, "embeddings": 0
        }
        assert not any(r["cached_scans"].values())


def test_cached_subtree_reprints_are_not_resident(runs):
    """dedup_minhash_lsh reads ``documents`` into a persisted frame that
    its plan references twice; the plan reprints the scans under each
    InMemoryTableScan, and they run once, at materialization."""
    for r in runs["dedup_minhash_lsh"]:
        assert r["cached_scans"]["documents"] >= 2
        assert r["resident_scans"]["documents"] == 0


def test_reps_repeat_jobs_stages_and_tasks(runs):
    first, second = runs["groupby_count"]
    assert first["jobs"] >= 1
    for c in ("jobs", "stages", "tasks"):
        assert first[c] == second[c], c
