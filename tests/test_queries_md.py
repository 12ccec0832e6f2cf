"""QUERIES.md is generated from the query registry: a docstring or
registration change that is not regenerated fails here. Fix with
``python tools/gen_queries_md.py``."""

from __future__ import annotations

import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_queries_md_matches_registry():
    spec = importlib.util.spec_from_file_location(
        "gen_queries_md", ROOT / "tools" / "gen_queries_md.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    assert (ROOT / "QUERIES.md").read_text(encoding="utf-8") == gen.render()
