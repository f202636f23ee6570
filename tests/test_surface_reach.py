"""Which graphiti_spark modules no Graphiti surface reaches. An ``ast``
import walk starts at the package, its lazy API, the pipeline,
``materialize``, the ``GraphitiSpark`` facade, the HTTP and MCP
services and search. It follows every import, function-level ones
included, each imported module's parent packages, and the module
strings of the lazy API. A module the walk does not reach is a
candidate for deletion, so the unreached set is pinned here with the
reason each entry stays. Needs no Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = "graphiti_spark"
ROOT = Path(__file__).resolve().parent.parent / PACKAGE
SURFACES = (
    PACKAGE,
    f"{PACKAGE}.pipeline",
    f"{PACKAGE}.materialize",
    f"{PACKAGE}.graphiti",
    f"{PACKAGE}.service",
    f"{PACKAGE}.mcp_service",
    f"{PACKAGE}.search_api",
)
UNREACHED = {
    "llm_transport": "the LLM plug point of the five adapters",
    "operators.docops": "document operators, to be deleted with their tests",
    "operators.evaluate": "perfbench's ground truth and the graph_eval contract entries",
    "oracle": "the DuckDB test oracle of the driver contract",
    "plans": "package of the test plan helpers",
    "plans.explain": "plan helpers the tests use",
    "streaming": "package of the Structured Streaming front",
    "streaming.ingest": "the Structured Streaming front of materialize_graph",
}


def _modules() -> dict[str, Path]:
    """{dotted module name: file} for every module of the package."""
    out = {}
    for path in ROOT.rglob("*.py"):
        parts = (PACKAGE, *path.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _imports(name: str, path: Path, modules: dict[str, Path]) -> set[str]:
    """The package modules ``name`` imports anywhere in its body, each
    with its parent packages, plus the module strings it names."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            found.add(base)
            found.update(f"{base}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            found.add(node.value)
    reached = set()
    for mod in found:
        parts = mod.split(".")
        reached.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return reached & modules.keys()


def test_unreached_modules_are_the_pinned_set():
    modules = _modules()
    reached, todo = set(), list(SURFACES)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo.extend(_imports(name, modules[name], modules))
    unreached = {m.removeprefix(f"{PACKAGE}.") for m in modules.keys() - reached}
    assert unreached == set(UNREACHED), (
        f"newly unreached: {sorted(unreached - set(UNREACHED))}; "
        f"now reached: {sorted(set(UNREACHED) - unreached)}"
    )
