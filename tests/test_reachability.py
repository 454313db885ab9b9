"""Tripwire: every top-level function and class of ``csv2parquet_spark``
is reached from an entry point, or is named in ``PUBLIC_API``.

AST only: no Spark session, no package import. The walk starts at the
entry points (``__spark_entry__.py``, ``bench.py``, ``perfbench/``,
``scripts/``, ``converter/cli.py``), every ``@register``ed query, and
the ``PUBLIC_API`` names. A reached body reaches every top-level def
whose name it mentions (a ``Name``, an ``Attribute.attr`` or an import
name), and the module-level code of every module that holds a reached
def or that reached code imports. Docstrings and comments mention no
identifier, and a ``from ... import`` in an ``__init__.py`` is a
re-export, not a use.

The same walk also checks options. A selector is a parameter of a
reached top-level function, outside ``PUBLIC_API``, whose default is
``True``, ``False``, ``None`` or a string and that an ``if`` or a
conditional expression of that function tests. Every call in reached
code (never the tests) that resolves, through the caller's imports, to
the selector's function passes it a value: a literal, the default when
omitted, or "any" for a non-literal or a ``*``/``**`` splat. A selector
with fewer than two values and no "any" is an option no caller selects,
unless ``SELECTORS`` names why it stays.
"""

from __future__ import annotations

import ast
import functools
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "csv2parquet_spark"

# "module:name" -> why the item stays although no entry point reaches it.
# A reason names the README feature the item backs, or its role in the
# tests: a reference twin, a plan pin or a measurement helper.
PUBLIC_API: dict[str, str] = {
    "converter.formats:parquet_to_csv": "README reference parity: the Parquet->CSV sink",
    "converter.formats:to_orc": "README reference parity: the ORC sink",
    "operators.dedup:minhash_signatures": (
        "README Dedup (MinHash): pandas kernel and its Catalyst reference twin, "
        "pinned bit-identical"
    ),
    "operators.dedup:minhash_near_dups": (
        "README Dedup: MinHash+LSH near-dup pipeline with exact verification"
    ),
    "operators.graph:pagerank": (
        "README graph family: the float PageRank kernel, reference twin of "
        "pagerank_fixed"
    ),
    "operators.layout:rowgroup_prune_fraction": (
        "measurement helper: the row-group skip fraction behind README's "
        "--zorder-by pruning figure"
    ),
    "operators.layout:write_bucketed_table": (
        "README Deploying step 2 (bucketed co-located joins); plan pin in "
        "test_plans"
    ),
    "operators.layout:write_training_shards": (
        "README Deploying step 2: deterministic md5 training shards"
    ),
    "operators.linalg:pca_project": (
        "README Distributed linear algebra: broadcast PCA projection"
    ),
    "operators.null_policy:last_skip_observation": (
        "measurement helper: reads the skipped-NULL count of on_null='skip'"
    ),
    "operators.pipeline:remove_contaminated": (
        "README Corpus hygiene: benchmark decontamination"
    ),
    "operators.similarity:write_ivf_index": (
        "README Similarity search: the persisted IVF-Flat index"
    ),
    "operators.similarity:probe_ivf_index": (
        "README Similarity search: IVF probe; plan pin on partition pruning"
    ),
    "operators.sketches:cms_merge": (
        "README Sketches: Count-Min as a mergeable DataFrame"
    ),
    "operators.text:fingerprint": (
        "README Text analysis: sorted-set md5 document fingerprints"
    ),
    "operators.text:winnow_fingerprints": (
        "README Text analysis: winnowing/MOSS fingerprints"
    ),
    "queries.windows:window_ntile_percentiles": (
        "reference twin: the single-partition Window that "
        "window_ntile_scalable must equal"
    ),
    "streaming.sinks:streaming_upsert_to_parquet": (
        "README Structured Streaming: keyed upsert parquet sink"
    ),
    "streaming.stateful:transform_with_state_available": (
        "README Structured Streaming: the gate of the transformWithStateInPandas twin"
    ),
    "streaming.stateful:user_running_totals": (
        "README Structured Streaming: per-key state via applyInPandasWithState"
    ),
    "streaming.stateful:user_running_totals_tws": (
        "README Structured Streaming: the transformWithStateInPandas twin"
    ),
    "streaming.windows:read_events_stream": (
        "README Structured Streaming: file-source replay of the events table"
    ),
    "streaming.windows:run_to_memory": (
        "measurement helper: runs a stream into a memory table for the "
        "stream == batch tests"
    ),
    "streaming.windows:streaming_dedup": (
        "README Structured Streaming: dropDuplicatesWithinWatermark dedup"
    ),
    "streaming.windows:streaming_csv_to_parquet": (
        "README Structured Streaming: continuous CSV->Parquet conversion"
    ),
    "streaming.windows:streaming_jsonl_to_parquet": (
        "README Structured Streaming: continuous JSONL->Parquet conversion"
    ),
}


@functools.cache
def _parse(path: pathlib.Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(PKG).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _resolve(node: ast.ImportFrom) -> str | None:
    """Package-relative name of the module an ImportFrom reads (the
    package uses absolute imports only), or None outside the package."""
    if node.module == "csv2parquet_spark":
        return ""
    if node.level == 0 and node.module and node.module.startswith("csv2parquet_spark."):
        return node.module[len("csv2parquet_spark.") :]
    return None


class _Body:
    """The identifiers one piece of code mentions and the package
    modules it imports."""

    def __init__(self, nodes: list[ast.AST], skip_imports: bool = False):
        self.names: set[str] = set()
        self.imports: set[str] = set()
        for root in nodes:
            for node in ast.walk(root):
                if isinstance(node, ast.Name):
                    self.names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    self.names.add(node.attr)
                elif isinstance(node, ast.Import) and not skip_imports:
                    for alias in node.names:
                        self.names.update(alias.name.split("."))
                        if alias.name.startswith("csv2parquet_spark"):
                            self.imports.add(alias.name[len("csv2parquet_spark.") :])
                elif isinstance(node, ast.ImportFrom) and not skip_imports:
                    target = _resolve(node)
                    for alias in node.names:
                        self.names.add(alias.name)
                        if target is not None:
                            self.imports.add(target)
                            self.imports.add(f"{target}.{alias.name}".lstrip("."))


def _root_files() -> list[pathlib.Path]:
    """The entry-point files outside the package."""
    return [REPO / "__spark_entry__.py", REPO / "bench.py"] + sorted(
        [*(REPO / "perfbench").rglob("*.py"), *(REPO / "scripts").rglob("*.py")]
    )


def _is_register(deco: ast.expr) -> bool:
    func = deco.func if isinstance(deco, ast.Call) else deco
    return (isinstance(func, ast.Name) and func.id == "register") or (
        isinstance(func, ast.Attribute) and func.attr == "register"
    )


def _scan():
    """(defs, module_code, roots): ``defs`` maps "module:name" to its
    body, ``module_code`` maps a module to its import-time code, and
    ``roots`` holds the entry-point files' code and the keys of the
    defs that are entry points themselves."""
    defs: dict[str, _Body] = {}
    module_code: dict[str, _Body] = {}
    roots: list[_Body | str] = []
    for path in sorted(PKG.rglob("*.py")):
        module = _module_name(path)
        tree = _parse(path)
        entry = path == PKG / "converter" / "cli.py"
        top: list[ast.AST] = []
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                # decorators, defaults and bases run at import time
                top.extend(stmt.decorator_list)
                if isinstance(stmt, ast.ClassDef):
                    top.extend([*stmt.bases, *stmt.keywords])
                else:
                    top.extend(d for d in stmt.args.defaults + stmt.args.kw_defaults if d)
                key = f"{module}:{stmt.name}"
                defs[key] = _Body(stmt.body)
                if entry or any(_is_register(d) for d in stmt.decorator_list):
                    roots.append(key)
            else:
                top.append(stmt)
        module_code[module] = _Body(top, skip_imports=path.name == "__init__.py")
        if entry:
            roots.append(module_code[module])
    roots.extend(_Body([_parse(path)]) for path in _root_files())
    return defs, module_code, roots


def _reach(defs, module_code, roots) -> set[str]:
    """The "module:name" keys reached from ``roots`` (bodies or keys)."""
    by_name: dict[str, list[str]] = {}
    for key in defs:
        by_name.setdefault(key.split(":", 1)[1], []).append(key)
    reached: set[str] = set()
    seen_modules: set[str] = set()
    pending: list[_Body | str] = list(roots)
    while pending:
        body = pending.pop()
        if isinstance(body, str):
            hits, body = [body], _Body([])
        else:
            hits = [k for n in body.names for k in by_name.get(n, ())]
        modules = {k.split(":", 1)[0] for k in hits} | (body.imports & module_code.keys())
        for key in hits:
            if key not in reached:
                reached.add(key)
                pending.append(defs[key])
        for module in modules - seen_modules:
            seen_modules.add(module)
            pending.append(module_code[module])
    return reached


def test_every_package_def_is_reached_or_public():
    defs, module_code, roots = _scan()
    public = [k for k in PUBLIC_API if k in defs]
    reached = _reach(defs, module_code, roots + public)
    unreached = sorted(k for k in defs if k not in reached and k not in PUBLIC_API)
    assert not unreached, "unreached and not in PUBLIC_API:\n" + "\n".join(unreached)


def test_public_api_entries_are_live():
    """Each PUBLIC_API entry names an existing def, gives a reason, and
    is not reached from the other roots (then it needs no entry)."""
    defs, module_code, roots = _scan()
    problems = [f"{k}: names nothing" for k in PUBLIC_API if k not in defs]
    problems += [f"{k}: empty reason" for k, why in PUBLIC_API.items() if not why.strip()]
    for key in PUBLIC_API:
        others = [k for k in PUBLIC_API if k in defs and k != key]
        if key in _reach(defs, module_code, roots + others):
            problems.append(f"{key}: reached anyway, drop the entry")
    assert not problems, "\n".join(problems)


# "module:func.param" -> why the selector stays although reached code
# passes it only one value. A reason names the test that uses the other
# value as its reference, the README feature the other value backs, or
# the test seam the parameter is.
SELECTORS: dict[str, str] = {
    "operators.dedup:connected_components.algorithm": (
        'README Deploying step 5: deep graphs switch to algorithm="star"; '
        "test_properties.py::test_connected_components_star_matches_propagation"
    ),
    "operators.dedup:ngram_jaccard_pairs.prefix_filter": (
        "reference: prefix_filter=False is the brute-force path of "
        "test_text_properties.py::test_ngram_jaccard_pairs_match_brute_force"
    ),
    "operators.graph:label_propagation.symmetric": (
        "reference: symmetric=False is the general-digraph path that "
        "test_graph_properties.py::test_label_propagation_matches_reference_on_random_digraphs "
        "checks against its Python LPA"
    ),
    "queries.llm_ops:binary_stats_arrow.on_null": (
        "the on_null='skip' quarantine mode, pinned by "
        "test_null_guards.py::test_on_null_skip_runs_clean_on_null_twin"
    ),
    "queries.operational:t_closeness_report.on_null": (
        "the on_null='skip' quarantine mode, pinned by "
        "test_null_guards.py::test_on_null_skip_runs_clean_on_null_twin"
    ),
    "queries.windows:asof_cogroup_merge.on_null": (
        "the on_null='skip' quarantine mode, pinned by "
        "test_null_guards.py::test_on_null_skip_runs_clean_on_null_twin"
    ),
    "queries.scanopt:_ingest_root.digest": (
        "test seam: test_converter.py::test_ingest_fixture_root_tracks_converter_sources"
    ),
    "streaming.sinks:read_snapshot.version": (
        "README Structured Streaming: time travel over the upsert sink's "
        "snapshot versions; test_streaming.py::test_snapshot_time_travel_within_retention"
    ),
}

_ANY = object()  # a value the AST cannot pin: a non-literal or a splat


def _literal(node: ast.expr):
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError):
        return _ANY


class _Resolver:
    """Maps a callee, as one file spells it, to the "module:name" key of
    one package def, through the file's imports (at any depth) and the
    re-exports of the package ``__init__`` modules."""

    def __init__(self, defs: set[str]):
        self.defs = defs
        self.modules = {_module_name(p) for p in PKG.rglob("*.py")}
        self.bindings: dict[pathlib.Path, dict[str, set[str | None]]] = {}

    def _target(self, module: str, name: str) -> str | None:
        """``name`` read from ``module``: a def key, a module or None."""
        if f"{module}:{name}" in self.defs:
            return f"{module}:{name}"
        if f"{module}.{name}".lstrip(".") in self.modules:
            return f"{module}.{name}".lstrip(".")
        init = PKG.joinpath(*module.split("."), "__init__.py")
        hits = self.names(init).get(name, set()) if init.exists() else set()
        return next(iter(hits)) if len(hits) == 1 else None

    def names(self, path: pathlib.Path) -> dict[str, set[str | None]]:
        """Local name -> what ``path`` binds it to."""
        if path not in self.bindings:
            # stored before the walk, so an import cycle sees a partial map
            self.bindings[path] = out = {}
            tree = _parse(path)
            if PKG in path.parents:
                module = _module_name(path)
                for stmt in tree.body:
                    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        out.setdefault(stmt.name, set()).add(f"{module}:{stmt.name}")
            for node in ast.walk(tree):
                if isinstance(node, ast.ImportFrom) and (src := _resolve(node)) is not None:
                    for alias in node.names:
                        out.setdefault(alias.asname or alias.name, set()).add(
                            self._target(src, alias.name)
                        )
                elif isinstance(node, ast.Import):
                    for alias in node.names:
                        if alias.asname and alias.name.startswith("csv2parquet_spark."):
                            out.setdefault(alias.asname, set()).add(
                                alias.name[len("csv2parquet_spark.") :]
                            )
        return self.bindings[path]

    def callee(self, path: pathlib.Path, func: ast.expr) -> str | None:
        names = self.names(path)
        if isinstance(func, ast.Name):
            hits = names.get(func.id, set())
        elif isinstance(func, ast.Attribute) and isinstance(func.value, ast.Name):
            hits = {
                self._target(m, func.attr)
                for m in names.get(func.value.id, set())
                if m is not None and ":" not in m
            }
        else:
            return None
        hit = next(iter(hits)) if len(hits) == 1 else None
        return hit if hit in self.defs else None


def _selectors(fn: ast.FunctionDef) -> list[tuple[str, ast.expr, int | None]]:
    """(name, default, position or None if keyword-only) of each
    parameter of ``fn`` that is a selector: its default is True, False,
    None or a string, and an ``if`` or conditional expression tests it."""
    pos = fn.args.posonlyargs + fn.args.args
    params = [
        (a.arg, d, i)
        for i, (a, d) in enumerate(
            zip(pos, [None] * (len(pos) - len(fn.args.defaults)) + fn.args.defaults)
        )
    ]
    params += [(a.arg, d, None) for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults)]
    tested = {
        n.id
        for node in ast.walk(fn)
        if isinstance(node, (ast.If, ast.IfExp))
        for n in ast.walk(node.test)
        if isinstance(n, ast.Name)
    }
    return [
        (name, default, position)
        for name, default, position in params
        if name in tested
        and isinstance(default, ast.Constant)
        and (default.value is None or isinstance(default.value, (bool, str)))
    ]


def _argument(call: ast.Call, name: str, default: ast.expr, position: int | None):
    """The value ``call`` passes to one parameter."""
    for kw in call.keywords:
        if kw.arg == name:
            return _literal(kw.value)
    if position is not None:
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred):
                return _ANY
            if i == position:
                return _literal(arg)
    if any(kw.arg is None for kw in call.keywords):
        return _ANY
    return _literal(default)


def _selector_values() -> dict[str, set]:
    """"module:func.param" -> the values that reached calls pass, for
    each selector of a reached top-level package function outside
    PUBLIC_API. The registry calls each registered query with
    ``(spark, sf_dir)``."""
    defs, module_code, roots = _scan()
    reached = _reach(defs, module_code, roots + [k for k in PUBLIC_API if k in defs])
    reached_modules = {k.split(":", 1)[0] for k in reached}
    bodies: list[tuple[pathlib.Path, ast.AST]] = [(p, _parse(p)) for p in _root_files()]
    calls: dict[str, list[ast.Call]] = {}
    selectors: dict[str, tuple[str, str, ast.expr, int | None]] = {}
    for path in sorted(PKG.rglob("*.py")):
        module = _module_name(path)
        for stmt in _parse(path).body:
            key = f"{module}:{getattr(stmt, 'name', '')}"
            if key not in defs:
                if module in reached_modules:
                    bodies.append((path, stmt))
                continue
            if key not in reached:
                continue
            bodies.append((path, stmt))
            if any(_is_register(d) for d in stmt.decorator_list):
                spark_call = ast.Call(ast.Name("fn"), [ast.Name("spark"), ast.Name("sf_dir")], [])
                calls.setdefault(key, []).append(spark_call)
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)) and key not in PUBLIC_API:
                for name, default, position in _selectors(stmt):
                    selectors[f"{key}.{name}"] = (key, name, default, position)
    resolver = _Resolver(set(defs))
    for path, body in bodies:
        for node in ast.walk(body):
            if isinstance(node, ast.Call) and (key := resolver.callee(path, node.func)):
                calls.setdefault(key, []).append(node)
    return {
        sel: {_argument(c, name, default, position) for c in calls.get(key, [])}
        for sel, (key, name, default, position) in selectors.items()
    }


def test_every_selector_has_two_reached_values():
    """A selector that reached code passes only one value is a constant
    in disguise: delete its branch, or name in SELECTORS the test or
    README feature that needs the other value."""
    values = _selector_values()
    problems = [
        f"{sel}: only {sorted(v)} reached"
        for sel, v in sorted(values.items())
        if _ANY not in v and len(v) < 2 and sel not in SELECTORS
    ]
    for sel, why in SELECTORS.items():
        if sel not in values:
            problems.append(f"{sel}: names nothing")
        elif _ANY in values[sel] or len(values[sel]) >= 2:
            problems.append(f"{sel}: has two reached values, drop the entry")
        if not why.strip():
            problems.append(f"{sel}: empty reason")
    assert not problems, "\n".join(problems)
