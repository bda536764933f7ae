"""Source-level rules for the package.

Execution shapes come from the input (session's shared small-input gate,
measured counts), never from the process environment: an env knob is a
hidden switch that no query, test or bench run sets, so the shape it
selects goes untested.  The one exception is `session.get_spark`, which
reads the five settings that size the session to its host or cluster.
Likewise the one auditable text hash and the one shingle word hash are
each defined in one place, so every operator and oracle agree on them,
and the feed's trip and shape id grammar is written only in
functions/ids.py.  Every package function is run by a query, pipeline,
race or tool, or is named in KEEP with the reason it stays; likewise every
optional parameter is set to another value by one of them, or is named in
KEEP_OPTIONS."""

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


def _parents(tree: ast.AST) -> dict:
    return {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}


def _enclosing_function(node, parents: dict) -> str | None:
    while node in parents:
        node = parents[node]
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            return node.name
    return None


def _env_reads(path: Path) -> list[tuple[str, str | None, str | None, int]]:
    """Every `os.environ` / `os.getenv` access under any alias of `os`, and
    every `from os import environ/getenv`, as
    (module path, enclosing function, setting name, line)."""
    tree = ast.parse(path.read_text(), filename=str(path))
    rel = path.relative_to(PACKAGE).as_posix()
    parents = _parents(tree)
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in _ENV_NAMES:
            hits.append((rel, _enclosing_function(node, parents),
                         _setting_read(node, parents), node.lineno))
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in _ENV_NAMES for a in node.names):
                hits.append((rel, _enclosing_function(node, parents), None, node.lineno))
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


# The only places the package starts threads: the feed sink and the feed
# validator submit independent Spark jobs concurrently, so the cluster runs
# them side by side.  Driver-side plan construction is cheap enough in
# sequence (get_spark turns off per-call origin capture), so no other
# thread is needed to hide it.
THREAD_NAMES = {"ThreadPoolExecutor", "Thread"}
ALLOWED_THREADS = {
    ("sources/gtfs.py", "write_gtfs_feed"),
    ("pipeline/feed_check.py", "validate_gtfs_feed"),
}


def _thread_starts(path: Path) -> list[tuple[str, str | None, int]]:
    """Every `ThreadPoolExecutor(...)` / `threading.Thread(...)` call, as
    (module path, enclosing function, line).  `threading.Lock` and the
    like are not threads."""
    tree = ast.parse(path.read_text(), filename=str(path))
    rel = path.relative_to(PACKAGE).as_posix()
    parents = _parents(tree)
    return [
        (rel, _enclosing_function(node, parents), node.lineno)
        for node in ast.walk(tree)
        if _call_name(node) in THREAD_NAMES
    ]


def test_threads_only_in_feed_sink_and_validator():
    hits = [h for f in sorted(PACKAGE.rglob("*.py")) for h in _thread_starts(f)]
    stray = [h for h in hits if h[:2] not in ALLOWED_THREADS]
    assert not stray, f"threads started outside the feed sink and validator: {stray}"
    assert {h[:2] for h in hits} == ALLOWED_THREADS


# ---------------------------------------------------------------------------
# Reachability: every package function has a caller that is not a test
# ---------------------------------------------------------------------------

REPO = PACKAGE.parent
# What runs the package: the query entry points in __spark_entry__.py,
# bench.py, and every race and tool under scripts/ and perfbench/.  Package
# module top-level code is a root too (it builds the query registry), and so
# is every `@register`ed query.
ROOT_FILES = ("__spark_entry__.py", "bench.py", "scripts/*.py", "perfbench/*.py")

# Functions kept although nothing above runs them, each with its reason.
KEEP = {
    # (a) the reference's own surface (COVERAGE.md rows)
    "pipeline.convert_routes.convert_old_routes": "convert.py old-routes conversion (convert golden)",
    "pipeline.convert_routes.to_nested_json": "convert.py routes.json writer (F15 / A3)",
    "sources.kml.write_route_kml": "K4 KML sink",
    "sources.shapefile.write_route_shapefiles": "K5 shapefile sink",
    "sources.git_sink.publish_gtfs_feed": "K6 git-as-sink",
    "sources.git_sink.lfs_smudge": "K6 LFS pointer read-back",
    "sources.osm_pbf.osm_xml_to_pbf": "S8 osm→pbf conversion",
    "sources.osm_pbf.read_osm_pbf": "S8 parallel blob-split PBF source",
    "sources.osm_pbf.osm_entity_tables": "S8 typed tables over read_osm_pbf",
    "pipeline.pbf_extract.gtfs_from_pbf": "osm-pbf-to-gtfs workflow, offline OSM→GTFS path",
    "pipeline.incremental.incremental_update": "the reference's path-filtered incremental rebuild",
    "operators.spatial.slice_path_geojson": "index.html Q5 path slicing",
    "operators.graph.build_edges": "index.html Q1 graph build (J10 route labels)",
    "operators.graph.build_vertices": "index.html Q1 graph build",
    "operators.graph.nearest_vertex": "index.html Q3 nearest vertex",
    "operators.graph.dijkstra_local": "index.html Q4 shortest path, single-task",
    # (b) references that tests compare the running code against
    "operators.multimodal.resize_pixels": "reference resampler resize_batches is compared against",
    "operators.stateful._thin_group": "per-group W9 thinning reference for thin_stops",
    "operators.stateful._stitch_group": "per-group W8 stitching reference for stitch_ways",
    # (c) the streaming surface that the streaming rework builds on
    "streaming.events.read_events_stream": "events file-source stream",
    "streaming.events.tumbling_counts": "windowed streaming aggregate",
    "streaming.events.session_counts": "session-window streaming aggregate",
    "streaming.events.run_available_now": "AvailableNow incremental trigger",
    "streaming.dedup_stream.dedup_stream": "streaming ingest dedup",
    "streaming.neardup_stream.verified_neardup_sink": "verified streaming near-dup sink",
}


def _loaded_names(nodes) -> set[str]:
    """Every name read under `nodes`: bare names and attribute names
    (`F.col` reads "col"), so a call through a module alias counts."""
    out = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                out.add(n.id)
            elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
                out.add(n.attr)
    return out


def _is_registered(node) -> bool:
    return any(
        isinstance(n, ast.Name) and n.id == "register"
        for dec in node.decorator_list for n in ast.walk(dec)
    )


def _package_defs() -> tuple[dict[str, ast.AST], set[str], set[str]]:
    """(module-level defs by dotted name, names read by root code,
    registered queries).  Module-level classes count as defs; nested
    functions and methods belong to their enclosing def."""
    defs: dict[str, ast.AST] = {}
    root_names: set[str] = set()
    registered: set[str] = set()
    for f in sorted(PACKAGE.rglob("*.py")):
        mod = ".".join(f.relative_to(PACKAGE).with_suffix("").parts)
        top = []
        for node in ast.parse(f.read_text(), filename=str(f)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                key = f"{mod}.{node.name}"
                defs[key] = node
                top.extend(node.decorator_list)
                if _is_registered(node):
                    registered.add(key)
            else:
                top.append(node)
        root_names |= _loaded_names(top)
    for pattern in ROOT_FILES:
        for f in sorted(REPO.glob(pattern)):
            root_names |= _loaded_names([ast.parse(f.read_text(), filename=str(f))])
    return defs, root_names, registered


def _reachable(defs, names: set[str], seeds: set[str]) -> set[str]:
    """Defs reached from `seeds` and from any def named in `names`.  A
    name resolves to every def of that name in any module: the rule may
    keep a dead def alive by a name clash, never call a live one dead."""
    by_name: dict[str, list[str]] = {}
    for key in defs:
        by_name.setdefault(key.rsplit(".", 1)[1], []).append(key)
    live: set[str] = set()
    todo = set(seeds) | {k for n in names for k in by_name.get(n, ())}
    while todo:
        key = todo.pop()
        if key in live:
            continue
        live.add(key)
        todo |= {k for n in _loaded_names([defs[key]]) for k in by_name.get(n, ())}
    return live


def test_every_package_def_runs_outside_tests_or_is_kept():
    """A function only tests call is code nothing ships: delete it with
    its tests, or name it in KEEP with the reason it stays."""
    defs, names, registered = _package_defs()
    assert len(registered) == 74, f"{len(registered)} registered queries"
    live = _reachable(defs, names, registered | set(KEEP))
    dead = sorted(set(defs) - live)
    assert not dead, f"package defs that only tests reach: {dead}"


def test_keep_list_names_only_unreached_defs():
    """Each KEEP entry is a def that nothing but KEEP reaches; once a query,
    pipeline or race calls it, it leaves the list."""
    defs, names, registered = _package_defs()
    missing = sorted(k for k in KEEP if k not in defs)
    assert not missing, f"KEEP names defs that do not exist: {missing}"
    reached = sorted(set(KEEP) & _reachable(defs, names, registered))
    assert not reached, f"KEEP entries that run outside tests: {reached}"


# ---------------------------------------------------------------------------
# Options: every optional parameter has a caller that is not a test
# ---------------------------------------------------------------------------

# Options kept although nothing outside tests sets them, each with its reason.
# The encoders build the outside-format inputs the decoders must read: a
# header field the encoder cannot vary is one the decoder could assume.
KEEP_OPTIONS = {
    "operators.jpeg.encode_jpeg(subsample)":
        "makes the 4:2:0 inputs decode_jpeg must accept from outside encoders",
    "operators.jpeg.encode_jpeg(quality)":
        "varies the quantization tables decode_jpeg must read from DQT",
    "operators.jpeg.encode_jpeg(restart_interval)":
        "makes the DRI/RSTn streams decode_jpeg must resynchronize on",
    "operators.multimodal.encode_avi(fps)":
        "varies the strh rate/scale decode_avi must read the frame rate from",
    "operators.multimodal.encode_avi(quality)":
        "varies the MJPEG frames' quantization tables decode_avi must decode",
    "operators.multimodal.encode_mov(fps)":
        "varies the mdhd timescale decode_mov must read the frame rate from",
    "operators.multimodal.encode_wav(sample_rate)":
        "varies the fmt sample rate decode_wav must read, not assume",
    "operators.multimodal.encode_y4m(fps)":
        "varies the F header field decode_y4m must read the frame rate from",
    "operators.multimodal.encode_y4m(colorspace)":
        "makes the C420 planes decode_y4m must size from the header",
    "sources.osm_pbf.write_osm_pbf(block_size)":
        "real PBFs have many blocks, and the blob-split reader must split them",
    "session.release_intermediates(blocking)":
        "tests assert the freed blocks are gone right after release",
}
# A default that is not a literal constant (`2**16`, a tuple, a name).
_COMPUTED = object()


def _options(node) -> dict[str, object]:
    """The optional parameters of a def with their defaults, by name: the
    constant's value, or _COMPUTED for a default written as an expression."""
    a = node.args
    positional = a.posonlyargs + a.args
    pairs = list(zip(positional[len(positional) - len(a.defaults):], a.defaults))
    pairs += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return {
        p.arg: d.value if isinstance(d, ast.Constant) else _COMPUTED
        for p, d in pairs
    }


def _is_default(value, default, consts: dict[str, object]) -> bool:
    """True when the argument `value` is a constant of the default's type
    and equal to it (`salt=8` against `salt: int = 8`).  A name bound to a
    module-level constant (`consts`) counts as its value, so renaming a
    literal does not set an option.  A computed default is set by any
    argument."""
    if isinstance(value, ast.Name):
        value = consts.get(value.id, value)
    v = value.value if isinstance(value, ast.Constant) else value
    return default is not _COMPUTED and type(v) is type(default) and v == default


def _module_constants(trees) -> dict[str, object]:
    """Names bound at module level to a literal constant, with its value.
    A name bound more than once with other values, or to an expression,
    maps to _COMPUTED (it may be anything)."""
    out: dict[str, object] = {}
    for tree in trees:
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            for t in targets:
                if isinstance(t, ast.Name):
                    v = value.value if isinstance(value, ast.Constant) else _COMPUTED
                    old = out.get(t.id, v)
                    same = type(old) is type(v) and old == v
                    out[t.id] = v if same else _COMPUTED
    return out


def _outside_names(trees) -> set[str]:
    """Names bound by importing from outside the package (`re`, `F` in
    `from pyspark.sql import functions as F`) and never from inside it: a
    call through them (`F.encode(...)`, `re.search(...)`) is not a
    package def's."""
    outside, inside = set(), set()
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [(a.name, a) for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [("." * node.level + (node.module or ""), a) for a in node.names]
            else:
                continue
            for mod, a in names:
                ours = mod.startswith((".", "tegallega_spark"))
                (inside if ours else outside).add(a.asname or a.name.split(".")[0])
    return outside - inside


def _package_call_name(call, outside: set[str]) -> str | None:
    """The bare name a call may resolve to a package def by, or None for
    a call through a name imported from outside the package."""
    f = getattr(call, "func", None)
    if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name) and f.value.id in outside:
        return None
    return _call_name(call)


def _callables(defs) -> dict[str, ast.AST]:
    """Module-level functions and the methods of module-level classes
    ("module.Class.method"), by dotted name."""
    out = {}
    for key, node in defs.items():
        if isinstance(node, ast.ClassDef):
            for sub in node.body:
                if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    out[f"{key}.{sub.name}"] = sub
        else:
            out[key] = node
    return out


def _option_settings(defs) -> tuple[set[str], dict[str, set[str]]]:
    """Which options some caller outside tests (package defs,
    methods and module top-level code, or ROOT_FILES) may set to a
    non-default value: (options set outright, {option: the enclosing
    def's options it forwards}).  Options are "module.def(param)"; methods
    take part so that a method forwarding its own option counts only when
    that option is set.  A call resolves by bare name to every def of that
    name (a clash may keep a dead mode alive, never call a live one dead),
    except a call through a name imported from outside the package; an
    argument that is the enclosing def's own parameter only forwards it,
    and a required parameter takes part only to forward (any argument sets
    it), so an option passed down through one stays dead with its source; a
    constant of the default's type and value sets nothing, also under a
    module-level name; `*args` / `**kwargs` set every option."""
    funcs = _callables(defs)
    by_name: dict[str, list[str]] = {}
    params: dict[str, list[str]] = {}
    opts: dict[str, dict[str, object]] = {}
    for key, node in funcs.items():
        by_name.setdefault(node.name, []).append(key)
        names = [p.arg for p in node.args.posonlyargs + node.args.args]
        params[key] = names[1:] if names[:1] in (["self"], ["cls"]) else names
        opts[key] = _options(node)
        # a required parameter only forwards: any argument sets it
        required = params[key] + [p.arg for p in node.args.kwonlyargs]
        opts[key] |= {p: _COMPUTED for p in required if p not in opts[key]}
    units = list(funcs.items())
    trees = []
    for f in sorted(PACKAGE.rglob("*.py")):  # module top-level code
        trees.append(ast.parse(f.read_text(), filename=str(f)))
        for node in trees[-1].body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                units.extend((None, d) for d in node.decorator_list)
            else:
                units.append((None, node))
    for pattern in ROOT_FILES:
        for f in sorted(REPO.glob(pattern)):
            trees.append(ast.parse(f.read_text(), filename=str(f)))
            units.append((None, trees[-1]))
    consts, outside = _module_constants(trees), _outside_names(trees)
    set_: set[str] = set()
    forwards: dict[str, set[str]] = {}
    for owner, tree in units:
        own = opts.get(owner, {})
        local = {n.id for n in ast.walk(tree)
                 if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)}
        if owner is not None:
            local |= {p.arg for p in ast.walk(tree.args) if isinstance(p, ast.arg)}
        seen = {k: v for k, v in consts.items() if k not in local}
        for call in ast.walk(tree):
            for key in by_name.get(_package_call_name(call, outside), ()):
                args = [(params[key][i] if i < len(params[key]) else None, v)
                        for i, v in enumerate(call.args)]
                args += [(kw.arg, kw.value) for kw in call.keywords]
                for param, value in args:
                    if isinstance(value, ast.Starred) or param is None:
                        set_ |= {f"{key}({p})" for p in opts[key]}
                    elif param in opts[key] and not _is_default(value, opts[key][param], seen):
                        option = f"{key}({param})"
                        if isinstance(value, ast.Name) and value.id in own:
                            forwards.setdefault(option, set()).add(f"{owner}({value.id})")
                        else:
                            set_.add(option)
    return set_, forwards


def _dead_options() -> list[str]:
    defs, _, _ = _package_defs()
    options = {
        f"{key}({p})" for key, node in defs.items() if key not in KEEP
        and isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        for p in _options(node)
    }
    live, forwards = _option_settings(defs)
    grew = True
    while grew:
        grew = False
        for option, sources in forwards.items():
            if option not in live and sources & live:
                live.add(option)
                grew = True
    return sorted(options - live)


def test_every_mode_is_set_outside_tests_or_is_kept():
    """An option that only tests set is a value or code path nothing
    ships: a mode, size or column name comes from the input or from the
    callers that run, so fix the option at the value they run (a module
    constant a test may monkeypatch), or name it in KEEP_OPTIONS with the
    reason it stays.  Every default counts: None/True/False switches,
    numbers, strings and computed defaults alike."""
    dead = _dead_options()
    stray = [o for o in dead if o not in KEEP_OPTIONS]
    assert not stray, f"options only tests set: {stray}"


def test_keep_options_names_only_unset_options():
    """Each KEEP_OPTIONS entry is an option nothing outside tests sets;
    once a caller sets it, it leaves the list."""
    dead = set(_dead_options())
    reached = sorted(set(KEEP_OPTIONS) - dead)
    assert not reached, f"KEEP_OPTIONS entries that are missing or set outside tests: {reached}"
