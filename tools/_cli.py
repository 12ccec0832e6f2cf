"""Shared flag parsing for the diagnostic tools.

One implementation of the ``--flag VALUE`` / ``--flag=VALUE`` /
unknown-arg-usage-error loop, used by driver_sim, query_profile and
scale_lsh_store.
Hand-rolled copies of it had each needed the same guard fixes
individually (one was a ``startswith`` prefix bug; others raised
``IndexError`` on a trailing ``--sf``), so copies diverge by
construction.
"""

from __future__ import annotations

import sys
from typing import Any, Callable

# sentinel for boolean flags (present => True, no value consumed)
BOOL = object()


def parse_args(
    argv: list[str],
    flags: dict[str, Any],
    usage: str,
    positionals: bool = False,
) -> tuple[dict[str, Any], list[str]]:
    """Parse ``argv`` against ``flags`` ({"--name": parser_callable or
    BOOL}). Accepts ``--name value`` and ``--name=value`` forms; exits
    with ``usage`` on a missing or unparseable value or an unknown flag.
    Returns
    (values keyed WITHOUT the leading dashes, positional args) —
    positional args are rejected unless ``positionals`` is True."""
    vals: dict[str, Any] = {}
    pos: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        key, eq, inline = a.partition("=")
        if key in flags:
            parser: Callable[[str], Any] | object = flags[key]
            name = key.lstrip("-")
            if parser is BOOL:
                if eq:
                    sys.exit(f"{key} takes no value\n{usage}")
                vals[name] = True
            else:
                if not eq:
                    if i + 1 >= len(argv):
                        sys.exit(f"{key} requires a value\n{usage}")
                    i += 1
                    inline = argv[i]
                try:
                    vals[name] = parser(inline)  # type: ignore[operator]
                except ValueError:
                    sys.exit(f"bad value {inline!r} for {key}\n{usage}")
        elif a.startswith("-"):
            sys.exit(f"unknown arg {a!r}\n{usage}")
        elif positionals:
            pos.append(a)
        else:
            sys.exit(f"unknown arg {a!r}\n{usage}")
        i += 1
    return vals, pos
