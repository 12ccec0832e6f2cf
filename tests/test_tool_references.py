"""Every ``tools/<name>.py`` the live code and docs point a reader at
must exist: a deleted tool leaves no dangling reference behind.

Historical records (NOTES_r*, VERDICT, ADVICE, OPTIMIZATION_r*, BENCH_*)
describe past rounds and are deliberately not scanned."""

from __future__ import annotations

import ast
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED = ["movies_etl_spark", "tests", "tools", "README.md", "SCALE.md"]
TOOL_REF = re.compile(r"tools/(\w+)\.py")


def _scanned_files():
    for entry in SCANNED:
        path = ROOT / entry
        if path.is_dir():
            yield from (p for p in path.rglob("*") if p.suffix in {".py", ".md"})
        else:
            yield path


def test_every_named_tool_exists():
    refs = {
        (src.relative_to(ROOT), name)
        for src in _scanned_files()
        for name in TOOL_REF.findall(src.read_text(encoding="utf-8"))
    }
    # README and SCALE.md name these live tools; missing matches mean
    # the pattern or the scanned paths broke and the check is vacuous
    assert {"query_profile", "scale_curves"} <= {
        name for _, name in refs
    }
    dangling = sorted(
        f"{src}: tools/{name}.py"
        for src, name in refs
        if not (ROOT / "tools" / f"{name}.py").is_file()
    )
    assert not dangling, dangling


def test_no_tool_puts_a_literal_absolute_path_on_sys_path():
    """Each tool finds the checkout it lives in from ``__file__``: a
    literal absolute path on ``sys.path`` would make a run from any
    other checkout import and check that fixed tree instead."""
    offenders = []
    for tool in sorted((ROOT / "tools").glob("*.py")):
        for node in ast.walk(ast.parse(tool.read_text(encoding="utf-8"))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in {"insert", "append"}
                and ast.unparse(node.func.value) == "sys.path"
                and any(
                    isinstance(a, ast.Constant)
                    and isinstance(a.value, str)
                    and a.value.startswith("/")
                    for a in node.args
                )
            ):
                offenders.append(f"{tool.name}:{node.lineno}")
    assert not offenders, offenders


def test_no_tool_shadows_a_stdlib_module():
    """Running ``tools/<name>.py`` puts ``tools/`` first on ``sys.path``,
    so a tool named like a stdlib module replaces it for every import in
    that process: a tool named ``profile.py`` breaks pyspark, whose
    ``import cProfile`` imports ``profile``."""
    stems = {p.stem for p in (ROOT / "tools").glob("*.py")}
    shadows = sorted(stems & sys.stdlib_module_names)
    assert not shadows, shadows
