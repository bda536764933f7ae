"""Source-level rules for the operators layer.

Operators take their execution shape from the input (session's shared
small-input gate) and from explicit per-call arguments, never from the
process environment: a per-operator env knob is a hidden switch that no
query, test or bench run sets, so the shape it selects goes untested."""

from __future__ import annotations

import ast
from pathlib import Path

OPERATORS = Path(__file__).resolve().parent.parent / "tegallega_spark" / "operators"
_ENV_NAMES = {"environ", "getenv", "environb", "getenvb"}


def _env_reads(path: Path) -> list[str]:
    """`os.environ` / `os.getenv` reads under any alias of `os`, and
    `from os import environ/getenv`, as 'file:line' strings."""
    tree = ast.parse(path.read_text(), filename=str(path))
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in _ENV_NAMES:
            hits.append(f"{path.name}:{node.lineno}")
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in _ENV_NAMES for a in node.names):
                hits.append(f"{path.name}:{node.lineno}")
    return hits


def test_operators_read_no_environment():
    files = sorted(OPERATORS.glob("*.py"))
    assert files, f"no operator modules under {OPERATORS}"
    hits = [h for f in files for h in _env_reads(f)]
    assert not hits, f"operator modules read the environment: {hits}"
