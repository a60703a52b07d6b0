"""Every graphraft_spark module must be reachable from a registered
query, the pipeline, the API facade or the session factory.

AST only (no Spark session, no imports executed): compute the import
closure of the roots, following package ``__init__`` files the way the
interpreter does, and fail naming any module outside it.  A module that
only its own tests import is dead weight — delete it, or wire it into a
registered query or pipeline stage.
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "graphraft_spark"

ROOTS = ("graphraft_spark.registry.*", "graphraft_spark.api",
         "graphraft_spark.pipeline", "graphraft_spark.session")

# Modules that no root reaches but that stay on purpose.
ALLOWED = {
    # the one documented reference-interop shim: loads a Neo4j CSV
    # export into a PropertyGraph (MIGRATION.md)
    "graphraft_spark.graph.neo4j_csv",
    # the driver-side pyarrow reader the distributed HF writer/reader
    # tests compare against
    "graphraft_spark.data.hf_arrow",
    # the real char n-gram scorer the trie-ranker tests drive
    "graphraft_spark.llm.ngram_lm",
    # parses the reference's stored Cypher strings for reference replay
    "graphraft_spark.patterns.cypher_parse",
}


def _modules() -> dict[str, str]:
    """Dotted module name -> file path, for every .py in the package."""
    out = {}
    for d, _, files in os.walk(os.path.join(REPO, PKG)):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(d, f), REPO)[:-3]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts.pop()
            out[".".join(parts)] = os.path.join(d, f)
    return out


def _imports(path: str, modules: dict[str, str]) -> set[str]:
    """Package modules one file imports, anywhere in its body."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            # a relative import would escape the dotted-name closure
            if node.level:
                raise AssertionError(f"{path}: relative import")
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        parts = name.split(".")
        out.update(p for p in (".".join(parts[:i + 1])
                               for i in range(len(parts))) if p in modules)
    return out


def _closure(modules: dict[str, str]) -> set[str]:
    todo = []
    for root in ROOTS:
        if root.endswith(".*"):
            pkg = root[:-2]
            todo += [m for m in modules
                     if m == pkg or m.startswith(pkg + ".")]
        else:
            todo.append(root)
    seen = set()
    while todo:
        m = todo.pop()
        if m in seen:
            continue
        seen.add(m)
        todo += _imports(modules[m], modules) - seen
    return seen


def test_every_module_is_reached():
    modules = _modules()
    unreached = sorted(set(modules) - _closure(modules) - ALLOWED)
    assert not unreached, (
        "modules no registered query, pipeline stage or API path "
        f"reaches: {unreached}")


def test_allowlist_is_current():
    modules = _modules()
    reached = _closure(modules)
    stale = sorted(m for m in ALLOWED if m not in modules or m in reached)
    assert not stale, f"allowlist entries gone or now reached: {stale}"
