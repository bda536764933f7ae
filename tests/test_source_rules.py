"""Source-level rules for the package.

Execution shapes come from the input (session's shared small-input gate,
measured counts), never from the process environment: an env knob is a
hidden switch that no query, test or bench run sets, so the shape it
selects goes untested.  The one exception is `session.get_spark`, which
reads the five settings that size the session to its host or cluster.
Likewise the one auditable text hash and the one shingle word hash are
each defined in one place, so every operator and oracle agree on them,
and the feed's trip and shape id grammar is written only in
functions/ids.py."""

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


def _call_name(node) -> str | None:
    """`F.conv(...)` / `conv(...)` → "conv"; None for anything else."""
    if not isinstance(node, ast.Call):
        return None
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _is_md5_60(node) -> bool:
    """conv(substring(md5(x), 1, 15), ...) — the 60-bit md5 prefix."""
    if _call_name(node) != "conv" or not node.args:
        return False
    sub = node.args[0]
    if _call_name(sub) != "substring" or len(sub.args) != 3:
        return False
    bounds = [a.value for a in sub.args[1:] if isinstance(a, ast.Constant)]
    return _call_name(sub.args[0]) == "md5" and bounds == [1, 15]


def test_md5_60_hash_is_written_once():
    """The auditable text hash (first 15 hex chars of md5, as an integer)
    is what the q36, q62 and q63 DuckDB oracles replay; every operator must
    reach it through the one helper so the copies cannot drift apart."""
    hits = [
        (f.relative_to(PACKAGE).as_posix(), node.lineno)
        for f in sorted(PACKAGE.rglob("*.py"))
        for node in ast.walk(ast.parse(f.read_text(), filename=str(f)))
        if _is_md5_60(node)
    ]
    assert len(hits) == 1, f"md5-60 expression written out at {hits}"


def test_word_hash_is_written_once():
    """The 8-byte blake2b word hash under every shingle operator (MinHash,
    exact Jaccard, repetition stats, span dedup) is computed at one site,
    dedup._word_hash: the band hashes and shingle sets it feeds are
    persisted (streaming checkpoint) and compared across operators, so a
    second copy could drift from the first."""
    hits = [
        (f.relative_to(PACKAGE).as_posix(), node.lineno)
        for f in sorted(PACKAGE.rglob("*.py"))
        for node in ast.walk(ast.parse(f.read_text(), filename=str(f)))
        if _call_name(node) == "blake2b"
    ]
    assert len(hits) == 1, f"blake2b called at {hits}"


ID_PREFIXES = {"t-", "shape_"}


def test_gtfs_id_prefixes_live_in_ids_module():
    """The "t-" trip and "shape_" shape id prefixes appear as string
    constants only in functions/ids.py: both GTFS paths (build_gtfs and
    gtfs_from_pbf) name their trips and shapes through those helpers, so
    the feed's id grammar has one copy."""
    hits = [
        (f.relative_to(PACKAGE).as_posix(), node.lineno, node.value)
        for f in sorted(PACKAGE.rglob("*.py"))
        for node in ast.walk(ast.parse(f.read_text(), filename=str(f)))
        if isinstance(node, ast.Constant) and node.value in ID_PREFIXES
    ]
    stray = [h for h in hits if h[0] != "functions/ids.py"]
    assert not stray, f"id prefixes written outside functions/ids.py: {stray}"
    assert {h[2] for h in hits} == ID_PREFIXES
