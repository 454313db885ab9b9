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
"""

from __future__ import annotations

import ast
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
    "streaming.windows:tumbling_counts": "README Structured Streaming: tumbling windows",
    "streaming.windows:sliding_counts": "README Structured Streaming: sliding windows",
    "streaming.windows:session_counts": "README Structured Streaming: session windows",
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
        tree = ast.parse(path.read_text(), str(path))
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
    for path in [REPO / "__spark_entry__.py", REPO / "bench.py"] + sorted(
        [*(REPO / "perfbench").rglob("*.py"), *(REPO / "scripts").rglob("*.py")]
    ):
        roots.append(_Body([ast.parse(path.read_text(), str(path))]))
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
