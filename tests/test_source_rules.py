"""Source-level rules for the package.

Execution shapes come from the input (session's shared small-input gate,
measured counts) and from explicit per-call arguments, never from the
process environment: an env knob is a hidden switch that no query, test
or bench run sets, so the shape it selects goes untested.  The one
exception is `session.get_spark`, which reads the five settings that size
the session to its host or cluster."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "tegallega_spark"
_ENV_NAMES = {"environ", "getenv", "environb", "getenvb"}
# (module, function, setting) — the only env reads the package may make
ALLOWED_READS = {
    ("session.py", "get_spark", name)
    for name in (
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_MAX_PARTITION_BYTES",
        "SPARK_GRAFT_PARALLEL_DISCOVERY_THRESHOLD",
        "SPARK_GRAFT_IO_CODEC",
    )
}


def _setting_read(node: ast.Attribute, parents: dict) -> str | None:
    """The literal setting name an env access reads: `os.environ.get("X")`,
    `os.environ["X"]` or `os.getenv("X")`; None for anything else (a
    computed name, or the mapping itself passed around)."""
    up = parents.get(node)
    if node.attr.startswith("environ"):
        if isinstance(up, ast.Subscript):
            arg = up.slice
        elif isinstance(up, ast.Attribute) and isinstance(parents.get(up), ast.Call):
            arg = parents[up].args[0] if parents[up].args else None
        else:
            return None
    elif isinstance(up, ast.Call) and up.args:
        arg = up.args[0]
    else:
        return None
    return arg.value if isinstance(arg, ast.Constant) else None


def _env_reads(path: Path) -> list[tuple[str, str | None, str | None, int]]:
    """Every `os.environ` / `os.getenv` access under any alias of `os`, and
    every `from os import environ/getenv`, as
    (module path, enclosing function, setting name, line)."""
    tree = ast.parse(path.read_text(), filename=str(path))
    rel = path.relative_to(PACKAGE).as_posix()
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}

    def enclosing_function(node):
        while node in parents:
            node = parents[node]
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                return node.name
        return None

    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in _ENV_NAMES:
            hits.append((rel, enclosing_function(node),
                         _setting_read(node, parents), node.lineno))
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in _ENV_NAMES for a in node.names):
                hits.append((rel, enclosing_function(node), None, node.lineno))
    return hits


def test_only_get_spark_reads_the_environment():
    files = sorted(PACKAGE.rglob("*.py"))
    assert len(files) > 1, f"no modules under {PACKAGE}"
    reads = [h for f in files for h in _env_reads(f)]
    stray = [r for r in reads if r[:3] not in ALLOWED_READS]
    assert not stray, f"env reads outside session.get_spark's five settings: {stray}"
    assert sorted(r[:3] for r in reads) == sorted(ALLOWED_READS)
