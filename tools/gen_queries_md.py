"""Regenerate QUERIES.md from the live query registry.

Usage: python tools/gen_queries_md.py   (from the repo root)

Summary rule (keep stable so regeneration leaves old rows untouched):
first sentence of the first docstring paragraph, whitespace-collapsed,
truncated to 117 chars + "..." when over 120.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402

QUERIES_MD = os.path.join(ROOT, "QUERIES.md")


def render() -> str:
    """QUERIES.md's full text for the current registry."""
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    rows = []
    for name in sorted(qs):
        para = re.sub(r"\s+", " ", (qs[name].__doc__ or "").strip().split("\n\n")[0])
        i = para.find(". ")
        summary = (
            para[: i + 1] if i != -1 else (para if para.endswith(".") else para + ".")
        )
        if len(summary) > 120:
            summary = summary[:117] + "..."
        check = "oracle" if name in osql else "rows-only"
        rows.append(f"| `{name}` | {check} | {summary} |")
    n = len(qs)
    hdr = (
        f"# Query index (auto-generated)\n\n**{n} queries; {len(osql)} "
        f"DuckDB-oracle-paired; {n - len(osql)} rows-only "
        "(each with a twin/golden/bounds test).**\n\n"
        "| query | check | summary |\n|---|---|---|\n"
    )
    return hdr + "\n".join(rows) + "\n"


def main() -> None:
    with open(QUERIES_MD, "w") as f:
        f.write(render())
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    print(f"QUERIES.md: {len(qs)} queries, {len(osql)} oracle-paired")


if __name__ == "__main__":
    main()
