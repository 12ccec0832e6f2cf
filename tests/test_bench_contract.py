"""bench.py's output contract and the helpers the tools share with it.

bench.py measures and reports; it does not normalise or judge its wall
times (performance claims are settled by ``perfbench/``). The contract
test runs a copy with a two-query headline in its own process, because
``get_spark`` there would re-pin this session's shuffle partitions.
"""

from __future__ import annotations

import ast
import json
import os
import re
import subprocess
import sys
from pathlib import Path

import pytest

import bench

ROOT = Path(__file__).resolve().parent.parent
CONTRACT_QUERIES = ["groupby_count", "dedup_cc_distributed"]
#: words of the ambient-load correction bench.py no longer carries
JUDGING_WORDS = ("calibration", "drift", "contended", "settle", "page_cache")


def test_bench_output_contract(tmp_path, sf_dir):
    src, n = re.subn(
        r"^HEADLINE = \[.*?^\]$",
        f"HEADLINE = {CONTRACT_QUERIES!r}",
        (ROOT / "bench.py").read_text(encoding="utf-8"),
        flags=re.M | re.S,
    )
    assert n == 1
    (tmp_path / "bench.py").write_text(src, encoding="utf-8")
    repo_detail = (ROOT / "BENCH_DETAIL.json").read_bytes()
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    run = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]

    line = json.loads(run.stdout.strip().splitlines()[-1])
    assert line["metric"] == "headline_suite_wall"
    assert line["value"] > 0
    assert set(line["queries"]) <= set(CONTRACT_QUERIES)
    assert line["detail_file"] == "BENCH_DETAIL.json"
    assert line["cc_modes_by_query"]["dedup_cc_distributed"]["mode"] == "distributed"

    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text(encoding="utf-8"))
    assert set(detail["queries"]) == set(CONTRACT_QUERIES)
    for key in [*line, *detail]:
        assert not any(w in key for w in JUDGING_WORDS), key
    assert (ROOT / "BENCH_DETAIL.json").read_bytes() == repo_detail


def test_shared_cli_parser():
    """tools/_cli.parse_args — the one flag-parsing loop that
    driver_sim, query_profile and scale_lsh_store share (r11
    consolidated three hand-rolled copies that had each needed the same
    guard fixes individually)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "_cli", os.path.join(os.path.dirname(__file__), "..", "tools", "_cli.py")
    )
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)

    flags = {"--top": int, "--dry-run": cli.BOOL}
    vals, pos = cli.parse_args(
        ["--top", "3", "a", "b"], flags, "u", positionals=True
    )
    assert vals == {"top": 3} and pos == ["a", "b"]
    vals, pos = cli.parse_args(["--top=7", "--dry-run"], flags, "u")
    assert vals == {"top": 7, "dry-run": True} and pos == []
    # exact-match only: '--topology' is NOT '--top' (the ADVICE r10 bug)
    with pytest.raises(SystemExit):
        cli.parse_args(["--topology"], flags, "u")
    with pytest.raises(SystemExit):  # missing value
        cli.parse_args(["--top"], flags, "u")
    with pytest.raises(SystemExit):  # value the parser rejects
        cli.parse_args(["--top", "x"], flags, "u")
    with pytest.raises(SystemExit):  # bool flag takes no value
        cli.parse_args(["--dry-run=x"], flags, "u")
    with pytest.raises(SystemExit):  # positionals rejected by default
        cli.parse_args(["stray"], flags, "u")


# explicit ids: adding or removing a case renames no other case
@pytest.mark.parametrize(
    "tool, argv",
    [
        pytest.param("query_profile", ["q", "--sf"], id="query_profile:--sf"),
        pytest.param("query_profile", ["q", "--reps=x"], id="query_profile:--reps=x"),
        pytest.param("query_profile", ["q", "--top", "3"], id="query_profile:--top"),
        pytest.param("query_profile", ["--plans"], id="query_profile:--plans"),
        pytest.param("driver_sim", ["--sf"], id="driver_sim:--sf"),
        pytest.param("driver_sim", ["--bogus"], id="driver_sim:--bogus"),
    ],
)
def test_tool_flag_errors_exit_with_usage(tool, argv, tmp_path):
    """A trailing flag without its value, an unparseable value or an
    unknown flag ends in the usage message before any Spark session
    starts — never in a traceback."""
    proc = subprocess.run(
        [sys.executable, str(ROOT / "tools" / f"{tool}.py"), *argv],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 1, proc.stderr
    assert f"usage: {tool}.py" in proc.stderr
    assert "Traceback" not in proc.stderr


#: the engine calls the benchmark makes, found by name so a parse that
#: resolves nothing cannot pass vacuously
PERFBENCH_CALLS = {
    "read_json_records", "read_csv", "clean_wiki", "clean_kaggle",
    "clean_ratings", "merge_movies", "movies_with_ratings", "write_parquet",
    "lsh_dedup_batch", "get_spark", "release_tracked", "live_checkpoints",
}


def _engine_names(tree: ast.Module) -> dict:
    """Local name → engine module or function, from every import of
    ``movies_etl_spark`` or ``__spark_entry__`` in ``tree``."""
    import importlib

    names = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] in {"movies_etl_spark", "__spark_entry__"}:
                    names[a.asname or a.name] = importlib.import_module(a.name)
        elif isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            "movies_etl_spark"
        ):
            mod = importlib.import_module(node.module)
            for a in node.names:
                try:
                    obj = importlib.import_module(f"{node.module}.{a.name}")
                except ImportError:
                    obj = getattr(mod, a.name)
                names[a.asname or a.name] = obj
    return names


def test_perfbench_engine_calls_bind():
    """Every call ``perfbench/`` makes into the engine binds to the
    engine's current signature: the same positional count and keyword
    names (``run.attempt(fn, *args)`` binds ``args`` to ``fn``). A
    dropped or renamed parameter fails here, not as failed benchmark
    runs."""
    import inspect

    bound = set()
    for path in sorted((ROOT / "perfbench").glob("*.py")):
        if path.name.startswith("test_"):
            continue
        tree = ast.parse(path.read_text(encoding="utf-8"))
        names = _engine_names(tree)

        def resolve(node):
            if isinstance(node, ast.Name):
                return names.get(node.id)
            if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
                owner = names.get(node.value.id)
                return getattr(owner, node.attr) if inspect.ismodule(owner) else None
            return None

        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            fn, args = resolve(call.func), call.args
            if getattr(call.func, "attr", None) == "attempt" and args:
                fn, args = resolve(args[0]), args[1:]
            if not inspect.isfunction(fn):
                continue
            where = f"{path.name}:{call.lineno} {ast.unparse(call)[:80]}"
            try:
                inspect.signature(fn).bind(
                    *[None] * len(args),
                    **{k.arg: None for k in call.keywords if k.arg is not None},
                )
            except TypeError as exc:
                raise AssertionError(f"{where}: {exc}") from None
            bound.add(fn.__name__)
    assert PERFBENCH_CALLS <= bound, sorted(PERFBENCH_CALLS - bound)


def test_engine_fingerprint_stable_on_clean_tree():
    """On a clean checkout the fingerprint is deterministic (two calls
    agree) and has the tree-blob two-part shape; a dirty engine tree
    would return None, which the caller treats as unknown."""
    a = bench._engine_fingerprint()
    b = bench._engine_fingerprint()
    assert a == b
    if a is not None:
        assert len(a.split("-")) == 2
